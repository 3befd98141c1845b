package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point PageRank over a weighted edge table — link-style
  * authority scoring (crawl prioritization, canonical-representative
  * choice inside duplicate clusters, Markov importance of event
  * states). The algorithmic shape is the standard iterative
  * rank-splitting (public literature: Page et al., "The PageRank
  * Citation Ranking"; the MapReduce formulation in Dean & Ghemawat's
  * follow-ups): each round joins ranks to edges on src, splits each
  * node's rank over its out-weight, and re-aggregates by dst.
  *
  * What makes THIS formulation unusual is that it is bit-exact across
  * engines: ranks live in 64-bit integer fixed point (SCALE = 10^12)
  * and every step is integer arithmetic —
  *
  *   r_0(v)     = S div N
  *   r_{k+1}(v) = (3·S) div (20·N)
  *              + (17 · Σ_{(u,v,w)∈E} w · (r_k(u) div out(u))) div 20
  *
  * with damping 0.85 = 17/20 and teleport 0.15 = 3/20 as exact
  * ratios and every division a floor division. Floating-point
  * PageRank can NEVER sit behind a hash-match gate — double sums
  * depend on aggregation order — but floor-divided integer mass is
  * order-independent, so a DuckDB oracle replays the identical
  * iteration and the identical 64-bit ranks. The cost: dropped
  * remainders mean total mass slowly leaks (as it also does through
  * dangling nodes, whose mass is discarded — the ranking stays
  * meaningful, the simplex property does not, and neither engine
  * disagrees about it).
  *
  * Distributed shape, per round: ONE shuffle of the (small) rank
  * frame to meet the pre-partitioned, persisted edge table on src,
  * plus ONE aggregate by dst. The dangling/no-inbound default does
  * NOT cost a per-round join: the node spine unions into the
  * contribution aggregate as zero-mass rows (`sum` over the extra 0
  * equals the old `coalesce(m, 0)` of the left join), so each round
  * is join + union + ONE exchange instead of join + two. No
  * driver-side graph state beyond the node count; lineage truncates
  * via `localCheckpoint` every [[CheckpointEvery]] rounds (r16: a
  * per-round checkpoint made every round a separately planned query —
  * measured more driver/AQE gap than task time at 5 rounds; a short
  * run is now ONE query), and the final round checkpoints eagerly so
  * the edge cache is dropped before the result leaves the call.
  * Overflow-safe by construction: total in-flight mass is
  * ≤ S = 10^12, so 17·Σ ≤ 1.7e13 ≪ 2^63.
  */
object PageRank {

  val Scale = 1000000000000L // 10^12 fixed-point units of rank 1.0

  /** Lineage-truncation cadence: deep enough that a short run (the
    * benched 5 rounds) plans as a single query, shallow enough that a
    * 100-round run never nests a plan past 8 rounds of join+agg.
    */
  private val CheckpointEvery = 8

  /** (node, rank_fp) for every node appearing as src or dst of
    * `edges`, after `iters` rounds. `weightCol` is the multi-edge
    * weight (pass a lit(1) column upstream for unweighted graphs).
    *
    * @param driverIterMaxEdges probe cap for the small-graph driver
    *        iteration ([[DriverReplay.MaxEdges]]); 0 disables the fast
    *        path (every round distributed regardless of size)
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 5,
      driverIterMaxEdges: Int = DriverReplay.MaxEdges): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters in [1,100], got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("bigint").as("w"))

    // static per-round join input: edges annotated with their node's
    // total out-weight, hash-partitioned by src ONCE and persisted —
    // the InMemoryRelation keeps its outputPartitioning (and sort
    // order), so every round's rank join consumes the cached layout
    // directly with no fresh exchange on the (big) edge side.
    // (A localCheckpoint would NOT work here: LogicalRDD drops the
    // partitioning and every round would re-shuffle the edges —
    // verified on the executed plans.) The last round is checkpointed
    // EAGERLY so all rounds materialize inside this call and the cache
    // can be dropped before returning — no persist leak.
    val outW = e.groupBy("src").agg(sum(col("w")).as("outw"))
    val eOut = e.join(outW, "src").repartition(col("src")).persist()

    // small-graph fast path (DriverReplay): when the edge relation
    // fits on the driver, the iteration is O(edges · iters) integer
    // adds, and running it as `iters` Catalyst queries is pure
    // orchestration cost (measured: the benched 5-round run spent
    // ~0.25 s computing its ~20-node transition graph and ~1 s
    // scheduling 29 AQE stage-jobs over it). One bounded probe against
    // the SAME persisted frame the distributed rounds consume —
    // rdd.take scans partitions incrementally over the identical
    // lineage, so an over-cap graph loses nothing: the shuffle maps
    // and cached partitions the probe ran ARE the prep the loop needs
    // anyway. If the whole annotated edge relation came back well-formed
    // (same-typed orderable endpoints, no nulls, weights ≥ 1 so all
    // masses stay nonnegative and truncating == floor division), the
    // recurrence replays driver-side over the Spark-computed
    // out-weights — bit-identical by construction (property-pinned).
    if (driverIterMaxEdges > 0 &&
        e.schema(0).dataType == e.schema(1).dataType &&
        DriverReplay.orderedNodeType(e.schema(0).dataType)) {
      val probe = eOut.rdd.take(driverIterMaxEdges + 1)
      if (probe.nonEmpty && probe.length <= driverIterMaxEdges &&
          probe.forall(r =>
            !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
              !r.isNullAt(3) && r.getLong(2) >= 1L)) {
        eOut.unpersist()
        return ranksDriver(edges.sparkSession, e.schema, probe, iters)
      }
    }

    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val n = nodes.count()

    var r = nodes.select(col("node"), lit(Scale / n).as("r"))
      .localCheckpoint(false)
    val base = 3L * Scale / (20L * n)
    for (k <- 1 to iters) {
      // node spine rides the aggregate as zero rows: sum(m ∪ {0}) ==
      // coalesce(sum(m), 0), so no-inbound nodes still get base and
      // the old per-round left join (its own exchange) is gone
      val contrib = eOut
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          (col("w") * expr("r DIV outw")).as("m"))
        .unionByName(nodes.select(col("node"), lit(0L).as("m")))
        .groupBy("node").agg(sum(col("m")).as("m"))
      r = contrib
        .select(col("node"), (lit(base) + expr("(17 * m) DIV 20")).as("r"))
      if (k % CheckpointEvery == 0 || k == iters)
        r = r.localCheckpoint(eager = k == iters)
    }
    eOut.unpersist()
    r.select(col("node"), col("r").as("rank_fp"))
  }

  /** The scaladoc recurrence replayed over driver arrays — every step
    * the same nonnegative 64-bit integer arithmetic as the distributed
    * round, consuming the SAME Spark-computed out-weight the
    * distributed join would (probe precondition: w ≥ 1, so outw ≥ 1
    * for every src and all masses stay ≥ 0, where truncating and floor
    * division agree; overflow-safe because w ≤ outw and
    * outw·(r div outw) ≤ r, so every product w·(r div outw) ≤ r ≤
    * Scale and per-round mass totals ≤ Scale). Bit-identical by
    * construction (property-pinned against the distributed path in
    * PageRankSpec).
    */
  private def ranksDriver(spark: org.apache.spark.sql.SparkSession,
      eSchema: org.apache.spark.sql.types.StructType,
      eOutRows: Array[org.apache.spark.sql.Row], iters: Int): DataFrame = {
    val idx = new java.util.LinkedHashMap[Any, Integer]()
    def id(v: Any): Int = {
      var i = idx.get(v)
      if (i == null) { i = idx.size; idx.put(v, i) }
      i
    }
    // eOut row layout (using-join keys first): src, dst, w, outw
    val m = eOutRows.length
    val srcA = new Array[Int](m)
    val dstA = new Array[Int](m)
    val wA = new Array[Long](m)
    val srcOutw = new Array[Long](m)
    var k = 0
    while (k < m) {
      val row = eOutRows(k)
      srcA(k) = id(row.get(0)); dstA(k) = id(row.get(1))
      wA(k) = row.getLong(2); srcOutw(k) = row.getLong(3); k += 1
    }
    val n = idx.size.toLong
    val outw = new Array[Long](idx.size)
    k = 0
    while (k < m) { outw(srcA(k)) = srcOutw(k); k += 1 }
    var r = Array.fill(idx.size)(Scale / n)
    val base = 3L * Scale / (20L * n)
    var round = 0
    while (round < iters) {
      val mass = new Array[Long](idx.size)
      k = 0
      while (k < m) {
        mass(dstA(k)) += wA(k) * (r(srcA(k)) / outw(srcA(k)))
        k += 1
      }
      var v = 0
      while (v < idx.size) { r(v) = base + 17L * mass(v) / 20L; v += 1 }
      round += 1
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](idx.size)
    val it = idx.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      out.add(org.apache.spark.sql.Row(en.getKey, r(en.getValue)))
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      eSchema("src").copy(name = "node"),
      org.apache.spark.sql.types.StructField("rank_fp",
        org.apache.spark.sql.types.LongType))))
  }

  /** Personalized PageRank: identical integer fixed-point frame, but
    * ALL teleport mass restarts at the `seeds` instead of spreading
    * uniformly — rank becomes proximity TO the seed set (the
    * graph-similarity / related-entities form: "what is reachable
    * from here", not "what is globally central"). Seeds are literal
    * node values (the personalization vector is part of the query,
    * like a filter predicate);
    *
    *   r_0(v)     = 1[v ∈ seeds] · (S div |seeds|)
    *   r_{k+1}(v) = 1[v ∈ seeds] · ((3·S) div (20·|seeds|))
    *              + (17 · Σ inbound mass) div 20
    *
    * — every step floor-divided integers, so the oracle replays the
    * recurrence exactly ([[ranks]]' determinism argument verbatim).
    */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: Seq[String], iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters in [1,100], got $iters")
    require(seeds.nonEmpty, "need at least one seed node")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("bigint").as("w"))
    val ns = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outW = e.groupBy("src").agg(sum(col("w")).as("outw"))
    val eOut = e.join(outW, "src").repartition(col("src")).persist()
    val isSeed = col("node").isin(seeds: _*)
    val nSeeds = seeds.length.toLong
    var r = ns.select(col("node"),
        when(isSeed, lit(Scale / nSeeds)).otherwise(lit(0L)).as("r"))
      .localCheckpoint(false)
    val base = 3L * Scale / (20L * nSeeds)
    for (k <- 1 to iters) {
      // same zero-row spine trick as [[ranks]]: one exchange per round
      val contrib = eOut
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          (col("w") * expr("r DIV outw")).as("m"))
        .unionByName(ns.select(col("node"), lit(0L).as("m")))
        .groupBy("node").agg(sum(col("m")).as("m"))
      r = contrib
        .select(col("node"),
          (when(isSeed, lit(base)).otherwise(lit(0L)) +
            expr("(17 * m) DIV 20")).as("r"))
      if (k % CheckpointEvery == 0 || k == iters)
        r = r.localCheckpoint(eager = k == iters)
    }
    eOut.unpersist()
    r.select(col("node"), col("r").as("rank_fp"))
  }
}
