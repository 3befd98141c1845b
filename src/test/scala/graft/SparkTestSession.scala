package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (Test/fork=true,
  * so this is per-`sbt test` run, not per-suite).
  *
  * Built from [[Sessions.builder]] — the SAME config the harness mains
  * (Bench/Verify/Trace/Stress) run under, so plan-shape assertions in
  * PlanAuditSpec hold for the configuration that is actually measured,
  * not a divergent test-only one.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
