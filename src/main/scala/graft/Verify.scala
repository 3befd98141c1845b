package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Runner.session()
    new java.io.File(outDir).mkdirs()
    val selected = Runner.selected(SparkEntry.queries.keys.toSeq).toSet
    selected.foreach { name =>
      // the step drops the caches operators persist, so a long dump
      // holds at most one query's caches at a time
      Runner.step(spark)(SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .left.foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${Runner.jstr(k)}: ${Runner.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
