package graft.dedup

import graft.operators.DriverReplay
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the
  * transitive-closure step that turns pairwise matches into dedup
  * CLUSTERS (A~B, B~C ⇒ {A,B,C} even when A,C never collided).
  *
  * Algorithm: iterative min-label propagation, the DataFrame rendering
  * of the classic distributed CC: every node starts labeled with its
  * own id; each round every node takes the min of its label and its
  * neighbors' labels; converged when a round changes nothing. All per-
  * round work is shuffles on node ids (join + groupBy-min, map-side
  * combined) — no driver-side graph state, so it scales to edge sets
  * that dwarf memory. Rounds needed = graph diameter; duplicate
  * clusters are near-cliques (every clone collides with most others),
  * so diameter is 1–2 in practice and the loop exits after the first
  * no-change round. The per-round action is a 1-row count (the
  * convergence check), not a data collect.
  *
  * At 100 TB scale the same loop holds (it's the standard pre-GraphX
  * CC formulation); for adversarial long-chain graphs switch the label
  * exchange to the large-star/small-star variant, which converges in
  * O(log n) rounds — the plan shape per round is identical.
  */
object Clusters {

  /** (id, component) for every node in `pairs`, where component = the
    * minimum node id reachable through the pair graph.
    *
    * @param pairs   undirected edges, one per row
    * @param aCol    first endpoint column
    * @param bCol    second endpoint column
    * @param maxIter safety bound on propagation rounds
    * @param driverIterMaxEdges probe cap for the small-graph driver
    *        iteration ([[DriverReplay.MaxEdges]]); 0 disables the fast
    *        path (every round distributed regardless of size)
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20,
      driverIterMaxEdges: Int = DriverReplay.MaxEdges): DataFrame = {
    // both edge directions from ONE scan of `pairs` (explode, not a
    // union of two selects — a union re-runs the whole upstream pair
    // pipeline once per branch, which for LSH-derived pair graphs means
    // shingling the corpus twice)
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist()

    // small-graph fast path (DriverReplay): when the pair relation
    // fits on the driver, min-label propagation is O(edges) integer
    // minima per round, and running each round as a Catalyst
    // join+aggregate+count is pure orchestration cost (the benched
    // dedup graphs are a few hundred verified pairs; the incremental /
    // streaming faces run CC on batch-contracted graphs every call).
    // The replay applies the IDENTICAL seeded recurrence with the same
    // maxIter bound, so results and the non-convergence failure are
    // unchanged. One bounded probe against the SAME persisted frame
    // the distributed rounds consume. The probe sees the POST-coercion
    // endpoint type (the explode unifies aCol/bCol), so the replay
    // labels exactly the values the distributed loop would; nulls
    // decline.
    DriverReplay.probe(edges, driverIterMaxEdges)(r =>
        !r.isNullAt(0) && !r.isNullAt(1)) match {
      case Some(rows) if rows.isEmpty && maxIter >= 1 =>
        // no pairs, no nodes: the empty (id, comp) frame the
        // distributed loop's first (empty) round would converge to —
        // maxIter < 1 falls through so its non-convergence failure on
        // an unenterable loop stays identical
        edges.unpersist()
        return ccEmpty(pairs.sparkSession, edges.schema(0))
      case Some(rows) if rows.nonEmpty =>
        edges.unpersist()
        return ccDriver(pairs.sparkSession, edges.schema(0), rows, maxIter)
      case _ =>
    }

    // seed = one propagation round for free: min(id, direct neighbors).
    // Near-clique duplicate clusters converge on the FIRST check.
    // localCheckpoint per round (not persist): the round plan references
    // `labels` twice, so plain caching would grow the LOGICAL plan
    // exponentially with rounds — checkpointing truncates lineage to the
    // materialized partitions. Checkpoints are LAZY: the convergence
    // count is the action that materializes them, so each round is ONE
    // job (an eager checkpoint would add a second full materialization
    // job per round). Superseded rounds release DETERMINISTICALLY as
    // soon as the next round is materialized (round 16 — waiting for
    // the ContextCleaner to GC the dropped reference let a long-running
    // maintainer accumulate corpus-sized blocks between GC cycles; the
    // FINAL round stays, referenced by the returned frame).
    var labels = edges.groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .select(col("src").as("id"), col("comp"))
      .localCheckpoint(false)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one exchange per round (r16): the node's OWN label unions into
      // the neighbor-min aggregate as a marked row, so
      //   min(comp over union) == least(comp, coalesce(min ncomp, comp))
      // and the old per-round left join (its own exchange of the label
      // frame) is gone. `own` survives as max(when(marker)) — every id
      // has exactly one marked row, so it is never null.
      // __changed rides along in the checkpointed frame (the next
      // round's join ignores it) so the convergence check and the new
      // labels share ONE materialization. The check COUNTS changed rows
      // (no limit-1 short-circuit) so the lazy checkpoint is forced to
      // compute every partition.
      val next = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"), lit(false).as("own"))
        .unionByName(labels.select(col("id"), col("comp"),
          lit(true).as("own")))
        .groupBy("id")
        .agg(min(col("comp")).as("comp"),
          max(when(col("own"), col("comp"))).as("__old"))
        .select(col("id"), col("comp"),
          (col("comp") < col("__old")).as("__changed"))
        .localCheckpoint(false)
      converged = next.filter(col("__changed")).count() == 0L
      // next is fully materialized (the count has no short-circuit) —
      // the superseded round's blocks release now
      org.apache.spark.sql.graft.CheckpointBridge.release(labels)
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds " +
        "(graph diameter exceeds the bound) — raise maxIter or use " +
        "connectedComponentsTwoStar, which needs only O(log n) rounds")
    labels.select("id", "comp")
  }

  private def ccEmpty(spark: org.apache.spark.sql.SparkSession,
      nodeField: org.apache.spark.sql.types.StructField): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        nodeField.copy(name = "id"), nodeField.copy(name = "comp"))))

  /** The seeded min-label recurrence replayed over driver arrays —
    * node values dense-ranked in Spark's ordering so integer minima
    * equal value minima, the seed round free exactly like the
    * distributed loop, and the same `maxIter` bound raising the same
    * failure. Bit-identical by construction (spec-pinned equality
    * against the distributed path, including a UTF-8-vs-UTF-16
    * ordering probe).
    */
  private def ccDriver(spark: org.apache.spark.sql.SparkSession,
      nodeField: org.apache.spark.sql.types.StructField,
      pairRows: Array[org.apache.spark.sql.Row], maxIter: Int): DataFrame = {
    import org.apache.spark.sql.types.StringType
    // distinct node values, dense-ranked in Spark's ordering
    val seen = new java.util.HashSet[Any]()
    val vals = new java.util.ArrayList[Any]()
    pairRows.foreach { r =>
      Seq(r.get(0), r.get(1)).foreach(v => if (seen.add(v)) vals.add(v))
    }
    val values = new Array[Any](vals.size)
    var vi = 0
    while (vi < values.length) { values(vi) = vals.get(vi); vi += 1 }
    val sorted: Array[Any] = nodeField.dataType match {
      case StringType =>
        values.map(v => (v.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8), v))
          .sortWith((x, y) =>
            java.util.Arrays.compareUnsigned(x._1, y._1) < 0)
          .map(_._2)
      case _ =>
        values.sortWith((x, y) =>
          x.asInstanceOf[Comparable[Any]].compareTo(y) < 0)
    }
    val rank = new java.util.HashMap[Any, Integer](sorted.length * 2)
    sorted.zipWithIndex.foreach { case (v, i) => rank.put(v, i) }
    val n = sorted.length
    val m = pairRows.length
    val ea = new Array[Int](m)
    val eb = new Array[Int](m)
    var k = 0
    while (k < m) {
      ea(k) = rank.get(pairRows(k).get(0))
      eb(k) = rank.get(pairRows(k).get(1)); k += 1
    }
    // seed = one propagation round for free: min(id, direct neighbors)
    val labels = Array.tabulate(n)(identity)
    k = 0
    while (k < m) {
      val a = ea(k); val b = eb(k)
      if (labels(a) > b) labels(a) = b
      if (labels(b) > a) labels(b) = a
      k += 1
    }
    var converged = false
    var iter = 0
    val next = new Array[Int](n)
    while (!converged && iter < maxIter) {
      System.arraycopy(labels, 0, next, 0, n)
      k = 0
      while (k < m) {
        val a = ea(k); val b = eb(k)
        // each round reads the PREVIOUS round's labels only — exactly
        // the distributed join's snapshot semantics
        if (next(a) > labels(b)) next(a) = labels(b)
        if (next(b) > labels(a)) next(b) = labels(a)
        k += 1
      }
      converged = java.util.Arrays.equals(next, labels)
      System.arraycopy(next, 0, labels, 0, n)
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds " +
        "(graph diameter exceeds the bound) — raise maxIter or use " +
        "connectedComponentsTwoStar, which needs only O(log n) rounds")
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    var v = 0
    while (v < n) {
      out.add(org.apache.spark.sql.Row(sorted(v), sorted(labels(v))))
      v += 1
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      nodeField.copy(name = "id"), nodeField.copy(name = "comp"))))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewrites — the O(log n)-round algorithm (public literature:
    * Kiveris et al., "Connected Components in MapReduce and Beyond")
    * for graphs where plain min-label propagation would need
    * diameter rounds (long chains). Each half-round is two shuffles
    * (neighborhood-min aggregate + edge join); no driver-side graph
    * state; convergence detected by an order-independent edge-set
    * checksum (count + sum of md5-derived edge hashes), one tiny
    * action per round.
    *
    *   - large-star: every node's LARGER neighbors re-attach to the
    *     minimum of its closed neighborhood;
    *   - small-star: every node and its SMALLER neighbors re-attach to
    *     the minimum smaller neighbor.
    *
    * At fixpoint every edge is (child, componentMin). Same result as
    * [[connectedComponents]] (property-tested); use this variant when
    * the pair graph may contain long chains.
    */
  def connectedComponentsTwoStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    def dirBoth(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = dirBoth(e)
      val m = nbrs.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      nbrs.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val small = dirBoth(e).filter(col("v") < col("u"))
      val m = small.groupBy("u").agg(min(col("v")).as("m"))
      val reattached = small.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      reattached.unionByName(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // order-independent set checksum: (|E|, Σ hash60(u:v)) — summed in
    // DECIMAL(38) so it cannot overflow at any edge count
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(graft.text.TextFeatures.md5PrefixLong(
            concat_ws(":", col("u"), col("v")), 15)
          .cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }

    // localCheckpoint (NOT persist): each round's plan nests the
    // previous round's ~5 times (dirBoth + aggregates + joins), so with
    // plain caching the LOGICAL plan grows exponentially and the
    // analyzer, not the data, becomes the bottleneck. Checkpointing
    // truncates lineage to the materialized partitions — constant plan
    // size per round. (A production cluster would use a reliable
    // checkpoint dir; the truncation effect is the same.) Superseded
    // rounds release deterministically once the next (eager) round is
    // materialized — the round-16 discipline; the final round stays,
    // referenced by the returned frame.
    var edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var sig = checksum(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSum = checksum(next)
      converged = nextSum == sig
      org.apache.spark.sql.graft.CheckpointBridge.release(edges)
      edges = next
      sig = nextSum
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"two-star connected components did not converge within $maxIter " +
        "rounds — raise maxIter (expected rounds ~ log2(nodes))")
    // fixpoint edges are (child, root); roots label themselves. Nodes
    // whose only pairs were SELF-pairs have no surviving edges — restore
    // them as their own singleton components (the min-label variant
    // keeps them; the two must agree).
    val allNodes = pairs.select(col(aCol).as("id"))
      .unionByName(pairs.select(col(bCol).as("id"))).distinct()
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("comp")))
      .groupBy("id").agg(min(col("comp")).as("comp"))
    allNodes.join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Keep one row per duplicate cluster: drop every doc whose cluster
    * representative (min id) is a different doc. Docs in no pair are
    * their own cluster and always survive.
    */
  def dedupByClusters(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Fold NEW duplicate pairs into a standing (id, comp) assignment
    * without re-running components over the full graph — the
    * incremental face recurring ingest needs: each batch's verified
    * pairs (from [[IncrementalDedup]] / the LSH screens) may extend a
    * cluster, MERGE standing clusters through a new bridge document,
    * or open brand-new ones.
    *
    * Exactness by contraction: each standing component collapses to
    * its representative (labels are min-ids, so the rep IS the
    * component minimum); new edges project endpoint → rep (a node
    * unseen by the standing assignment is its own rep); components of
    * the contracted graph, expanded back through the standing labels,
    * equal components of the full union graph — `appendComponents
    * (cc(a), b) ≡ cc(a ∪ b)` row-for-row (spec'd, including a
    * cross-cluster merge, a new-node extension, and a disjoint new
    * chain).
    *
    * Scale shape: the iterative CC runs on the CONTRACTED edges —
    * batch-pair-sized, not corpus-sized; the standing table pays two
    * hash joins (rep projection, final relabel through the
    * batch-bounded merge map) and is never iterated over. The
    * standing frame is persisted (four consumers); batch callers
    * release via `catalog.clearCache()` (the harness convention),
    * per-micro-batch callers use [[appendComponentsScoped]] and
    * unpersist exactly that frame.
    */
  def appendComponents(standing: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame =
    appendComponentsScoped(standing, newPairs, aCol, bCol, maxIter)._1

  /** [[appendComponents]] with a RELEASE thunk handed back, so a
    * PER-MICRO-BATCH caller ([[graft.streaming.ClusterMaintain]]) can
    * drop exactly this call's scratch state after materializing the
    * result: the internal persisted standing frame (a blanket
    * `catalog.clearCache()` would also unpersist every user-cached
    * relation sharing the session) AND the contracted-CC merge map's
    * final checkpoint (whose blocks would otherwise linger until the
    * ContextCleaner GCs them — one leaked generation per micro-batch).
    * The returned frame is lazy and references both: release AFTER
    * consuming.
    */
  private[graft] def appendComponentsScoped(standing: DataFrame,
      newPairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): (DataFrame, () => Unit) = {
    val st = standing.select(col("id"), col("comp")).persist()
    val contracted = newPairs
      .select(col(aCol).as("_a"), col(bCol).as("_b"))
      .join(st.select(col("id").as("_a"), col("comp").as("_ca")),
        Seq("_a"), "left")
      .join(st.select(col("id").as("_b"), col("comp").as("_cb")),
        Seq("_b"), "left")
      .select(coalesce(col("_ca"), col("_a")).as("u"),
        coalesce(col("_cb"), col("_b")).as("v"))
      // both endpoints already share a component: nothing to merge
      .filter(col("u") =!= col("v"))
    val m = connectedComponents(contracted, "u", "v", maxIter)
      .select(col("id").as("_rep"), col("comp").as("_nc"))
    val updated = st.join(m, st("comp") === m("_rep"), "left")
      .select(st("id"), coalesce(col("_nc"), st("comp")).as("comp"))
    // endpoints the standing assignment has never seen: rep = own id,
    // so the contracted components already carry their final label
    val fresh = newPairs
      .select(explode(array(col(aCol), col(bCol))).as("id")).distinct()
      .join(st.select("id"), Seq("id"), "left_anti")
    (updated.unionByName(
      fresh.join(m, fresh("id") === m("_rep"), "left")
        .select(fresh("id"), coalesce(col("_nc"), col("id")).as("comp"))),
      () => {
        st.unpersist(blocking = false)
        org.apache.spark.sql.graft.CheckpointBridge.release(m)
      })
  }
}
