package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared harness loop: Bench's failed-slot contract, the
  * SPARK_GRAFT_ONLY selection, and Trace's layer record.
  */
class RunnerSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("a throwing query reports an error and the next one still runs") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val slots = Bench.measure(spark, Seq("boom", "diff_flags")) { name =>
      ran += name
      if (name == "boom") throw new IllegalStateException("planted")
      Runner.noop(Runner.query(spark, name, dir))
    }
    // the failed rep poisons its slot: no further reps of it
    assert(ran.toSeq === "boom" +: Seq.fill(Bench.Reps)("diff_flags"))
    assert(slots.map(_._1) === Seq("boom", "diff_flags"))
    assert(slots(0)._2.left.exists(_.contains("planted")))
    assert(slots(1)._2.exists(_.size == Bench.Reps))

    val line = Bench.finalLine(slots, dir)
    assert(line.contains(""""boom":-1.00"""))
    assert(line.contains(
      """"errors":{"boom":"java.lang.IllegalStateException: planted"}"""))
    assert(line.contains(""""sf":"sf0.001""""))
    assert(!Bench.finalLine(slots.drop(1), dir).contains("errors"))
  }

  test("SPARK_GRAFT_ONLY keeps the listed names in registry order") {
    val all = Seq("a", "b", "c", "d")
    assert(Runner.select(all, None) === all)
    assert(Runner.select(all, Some("d, b,,zz")) === Seq("b", "d"))
    assert(Runner.select(all, Some("")) === Seq.empty)
  }

  test("Trace splits a warm run into phases, every stage under a job") {
    val r = Trace.trace(spark, dir, "diff_flags")
    assert(r.coldS > 0)
    assert(Seq(r.buildNs, r.planNs, r.execNs).forall(_ >= 0))
    assert(r.buildNs + r.planNs + r.execNs <= r.wallNs)
    assert(r.jobs.nonEmpty)
    assert(r.stages.nonEmpty && r.stages.forall(_.tasks >= 1))
    assert(r.jobs.map(_.stages).sum === r.stages.size)
    assert(r.jobs.map(_.tasks).sum === r.stages.map(_.tasks).sum)
    assert(r.plan.contains("== Physical Plan =="))
    assert(r.json.startsWith("""{"query":"diff_flags","cold_s":"""))
    spark.catalog.clearCache()
  }
}
