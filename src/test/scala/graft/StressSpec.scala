package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Stress's scenario table and its run loop: unique names, the whole
  * table as the default selection, one scenario end to end with a
  * Bench-format final line, and a failing scenario reported under its
  * name.
  */
class StressSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = Bench.WarmDir // sf0.001
  private val names = Stress.table.map(_.name)

  test("scenario names are unique") {
    assert(names.distinct === names)
  }

  test("no selection runs every scenario, bm25del and bm25lsm included") {
    assert(Runner.select(names, None) === names)
    assert(names.contains("bm25del") && names.contains("bm25lsm"))
  }

  test("a scenario runs end to end and the final line carries its labels") {
    val slots = Stress.run(spark, dir, Seq("dupspans"))
    assert(slots.map(_._1) === Seq("dupspans", "excise"))
    assert(slots.forall(_._2.exists(_.forall(_ >= 0))))
    val json = new ObjectMapper().readTree(Bench.finalLine(slots, dir))
    assert(json.get("metric").asText === "total")
    assert(json.get("queries").has("dupspans"))
    assert(json.get("queries").has("excise"))
    assert(!json.has("errors"))
    assert(json.get("sf").asText === "sf0.001")
  }

  test("a failing scenario is reported under its name") {
    val slots = Stress.run(spark, "/nonexistent-sf-dir", Seq("minhash"))
    assert(slots.map(_._1) === Seq("minhash"))
    assert(slots.head._2.isLeft)
    val json = new ObjectMapper().readTree(Bench.finalLine(slots, dir))
    assert(json.get("errors").has("minhash"))
  }
}
