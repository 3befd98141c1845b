package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Driver-side reference: the exact integer recurrence from the
    * scaladoc, executed naively over in-memory maps.
    */
  private def reference(edges: Seq[(String, String, Long)],
      iters: Int): Map[String, Long] = {
    val S = PageRank.Scale
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val n = nodes.size
    var r = nodes.map(_ -> S / n).toMap
    val base = 3L * S / (20L * n)
    for (_ <- 1 to iters) {
      val m = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => w * (r(u) / outw(u)) }.sum).toMap
      r = nodes.map(v => v -> (base + 17L * m.getOrElse(v, 0L) / 20L)).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String, Long)],
      iters: Int): Map[String, Long] =
    PageRank.ranks(edges.toDF("s", "d", "w"), "s", "d", "w", iters)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap

  test("symmetric cycle stays (almost) uniform") {
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
    val got = run(edges, 5)
    assert(got === reference(edges, 5))
    assert(got.values.toSet.size === 1, "cycle must stay uniform")
  }

  test("sink accumulates, source keeps only teleport mass") {
    // a -> b, a -> c, b -> c; c dangling (its mass leaks, by contract)
    val edges = Seq(("a", "b", 1L), ("a", "c", 1L), ("b", "c", 1L))
    val got = run(edges, 3)
    assert(got === reference(edges, 3))
    assert(got("c") > got("b") && got("b") > got("a"))
  }

  test("edge weights steer mass") {
    val heavy = Seq(("a", "b", 9L), ("a", "c", 1L))
    val got = run(heavy, 2)
    assert(got === reference(heavy, 2))
    assert(got("b") > got("c"))
  }

  test("matches the reference on a pseudo-random 60-node graph") {
    // deterministic LCG edges; multi-edges collapse into weights
    val raw = Iterator.iterate(12345L)(x => (x * 48271) % 2147483647)
      .drop(1).take(400).toSeq
    val edges = raw.grouped(2).collect { case Seq(x, y) =>
      (s"n${x % 60}", s"n${y % 60}", 1L + (x % 3))
    }.toSeq.groupBy(e => (e._1, e._2)).map { case ((u, v), g) =>
      (u, v, g.map(_._3).sum)
    }.toSeq.filter { case (u, v, _) => u != v }
    val got = run(edges, 4)
    assert(got === reference(edges, 4))
  }

  test("rounds reuse the pre-partitioned edge frame (no per-round edge shuffle)") {
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
    // driverIterMaxEdges = 0 forces the distributed loop this test pins
    val df = PageRank.ranks(edges.toDF("s", "d", "w"), "s", "d", "w", 3,
      driverIterMaxEdges = 0)
    val plan = df.queryExecution.executedPlan.toString
    // the last round's plan: its inputs are checkpointed RDD scans; the
    // edge side must arrive already hash-partitioned (no fresh Exchange
    // feeding the join from a scan of the edge RDD)
    assert(plan.contains("Scan ExistingRDD"),
      s"rounds must consume checkpointed frames:\n$plan")
  }

  test("driver fast path is bit-identical to the distributed loop") {
    // the round-17 small-graph driver iteration must replay the exact
    // integer recurrence: compare both paths on the pseudo-random graph
    // (multi-edges, weights 1..3, dangling nodes) across round counts
    val raw = Iterator.iterate(98765L)(x => (x * 48271) % 2147483647)
      .drop(1).take(600).toSeq
    val edges = raw.grouped(2).collect { case Seq(x, y) =>
      (s"n${x % 80}", s"n${y % 80}", 1L + (x % 3))
    }.toSeq.filter { case (u, v, _) => u != v }
    for (iters <- Seq(1, 4)) {
      val fast = PageRank.ranks(edges.toDF("s", "d", "w"), "s", "d", "w",
        iters).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val dist = PageRank.ranks(edges.toDF("s", "d", "w"), "s", "d", "w",
        iters, driverIterMaxEdges = 0)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(fast === dist, s"paths diverged at iters=$iters")
    }
  }

  test("driver fast path declines null endpoints") {
    // a null dst must fall through to the distributed loop (whose
    // null-handling is the operator's contract; nonpositive weights
    // likewise decline — the distributed loop then raises its usual
    // ANSI divide-by-zero for a zero out-weight, unchanged)
    val edges = Seq(("a", "b", 1L), ("b", null, 1L), ("c", "a", 2L))
      .toDF("s", "d", "w")
    val df = PageRank.ranks(edges, "s", "d", "w", 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"ill-formed edges must keep the distributed loop:\n$plan")
  }

  test("an empty graph ranks no nodes, on both paths") {
    val empty = Seq.empty[(String, String, Long)].toDF("s", "d", "w")
    val one = Seq(("a", "b", 1L)).toDF("s", "d", "w")
    def fields(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    for (cap <- Seq(DriverReplay.MaxEdges, 0)) {
      val got = PageRank.ranks(empty, "s", "d", "w",
        driverIterMaxEdges = cap)
      assert(got.collect().isEmpty)
      assert(fields(got) === fields(PageRank.ranks(one, "s", "d", "w",
        driverIterMaxEdges = cap)))
    }
  }

  test("personalizedRanks seeded at every node equals the uniform ranks") {
    // all-node seeds make r_0 = S div N and the teleport base
    // 3S div 20N at every node: the uniform recurrence, so the two faces
    // must agree exactly (both run the one distributed round loop)
    val raw = Iterator.iterate(24680L)(x => (x * 48271) % 2147483647)
      .drop(1).take(300).toSeq
    val edges = raw.grouped(2).collect { case Seq(x, y) =>
      (s"v${x % 40}", s"v${y % 40}", 1L + (x % 3))
    }.toSeq.filter { case (u, v, _) => u != v }.toDF("s", "d", "w")
    val nodes = (edges.select("s").as[String].collect() ++
      edges.select("d").as[String].collect()).distinct.toSeq
    for (iters <- Seq(1, 3, 9)) {
      val uniform = PageRank.ranks(edges, "s", "d", "w", iters,
        driverIterMaxEdges = 0)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val ppr = PageRank.personalizedRanks(edges, "s", "d", "w", nodes, iters)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(uniform.size === nodes.size)
      assert(ppr === uniform, s"faces diverged at iters=$iters")
    }
  }
}
