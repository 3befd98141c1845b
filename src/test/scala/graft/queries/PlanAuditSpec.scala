package graft.queries

import graft.SparkTestSession
import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the properties that make these queries
  * scale are asserted on the optimized/physical plans, so a future
  * edit that silently breaks pushdown, reintroduces a cartesian
  * product, or adds a stray shuffle fails CI — not a 100 TB run.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("scan-side pushdown: filters reach the parquet scans") {
    val q1 = planOf("q1_agg")
    assert(q1.contains("PushedFilters") && q1.contains("l_shipdate"),
      "q1 ship-date filter must be pushed to the scan")
    val q3 = planOf("q3_join_agg")
    assert(q3.contains("EqualTo(c_mktsegment,BUILDING)"),
      "q3 segment filter must be pushed to the customer scan")
  }

  test("no cartesian products anywhere in the gated queries") {
    // sweeps the FULL query registry, not just the bench slots — the
    // bench's one-slot-per-plan-shape policy must not shrink the plan
    // audit's coverage
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name contains a cartesian product:\n$plan")
      // some operators persist() shared stages at plan-build time; a
      // leftover InMemoryRelation would reshape every LATER audit's
      // plan (cached scans block e.g. rank pushdown), so drop them
      // per query exactly like Verify does
      spark.catalog.clearCache()
    }
  }

  test("per-row text features run without any shuffle") {
    // loadSpread adds ONE round-robin exchange for the single-file test
    // input; beyond that the feature computation itself must add none
    for (name <- Seq("text_stats", "text_langid", "text_tokens",
        "text_fingerprint", "mm_meta", "text_pii", "text_chunks")) {
      val plan = planOf(name)
      val exchanges = "Exchange".r.findAllIn(plan).length
      val sorts = plan.contains("TakeOrderedAndProject") ||
        plan.contains("Sort ")
      // one repartition exchange + (possibly) the final presentation sort
      assert(exchanges <= 2,
        s"$name has $exchanges exchanges — per-row features must not shuffle:\n$plan")
      assert(sorts, s"$name lost its deterministic output order")
    }
  }

  test("diff core: one full-outer join, no more than one shuffle per side") {
    val plan = planOf("diff_flags")
    assert("SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length == 1,
      "diff must be a single equi-join:\n" + plan)
    assert(plan.contains("FullOuter"), "diff join must be full outer")
  }

  test("similarity searches keep the corpus un-shuffled before ranking") {
    val plan = planOf("sim_topk")
    // query side broadcasts; corpus side: loadSpread exchange + final
    // top-k window shuffle on q_id — nothing else
    assert(plan.contains("Broadcast"),
      "small query set should broadcast:\n" + plan)
  }

  test("kmeans final assignment is a pure projection over the input") {
    // iterations collapse to literal-centroid projections: the returned
    // plan must contain NO exchange and NO join — the corpus is never
    // shuffled to be labeled (the presentation orderBy adds one range
    // exchange, nothing else). Training releases its cached prep, so
    // the plan reads the input itself: its loadSpread round-robin
    // spread is the input's, not the assignment's, and is not counted
    val plan = planOf("embed_kmeans")
    val exchanges =
      "Exchange (?!RoundRobinPartitioning)".r.findAllIn(plan).length
    assert(exchanges <= 1, // presentation sort only
      s"embed_kmeans assignment must not shuffle the corpus:\n$plan")
    assert(!plan.contains("Join"),
      s"embed_kmeans assignment must not join:\n$plan")
    assert(plan.contains("nearest_centroid"),
      "assignment distances must run through the codegen'd codebook argmin")
  }

  test("record linkage: one blocked equi-join, argmin as a hash aggregate") {
    val plan = planOf("er_match")
    assert("SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length +
      "BroadcastHashJoin".r.findAllIn(plan).length == 1,
      s"er_match must score candidates off one blocking equi-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"),
      s"er_match must never degrade to an unblocked product:\n$plan")
    // struct-valued min has no fixed-width mutable buffer, so Spark
    // plans a SortAggregate — the property that matters is the PARTIAL
    // mode: candidates collapse map-side before the _lid shuffle
    assert(plan.contains("partial_min"),
      s"er_match argmin must partial-aggregate map-side:\n$plan")
  }

  test("top-k windows run as partial+final WindowGroupLimit (rank pushdown)") {
    // Spark's WindowGroupLimit keeps only k rows per key per PARTITION
    // before the shuffle — the property that makes rank<=k top-k safe at
    // scale (the shuffle moves ~k·|keys| rows, not the full pair fanout)
    // (kmv_distinct left this list in round 7: its bottom-k now lives in
    // the KmvBottomK aggregate buffer — single-exchange plan asserted in
    // SketchLayoutSpec instead)
    for (name <- Seq("sim_topk", "sim_quant", "sim_knn_graph",
        "q_window_top_orders", "quota_cap", "text_bm25")) {
      val plan = planOf(name)
      assert(plan.contains("WindowGroupLimit"),
        s"$name lost the rank-limit pushdown:\n$plan")
      assert(plan.contains("Partial"),
        s"$name WindowGroupLimit is not map-side partial:\n$plan")
    }
  }

  test("no expensive predicate lands below the parallelizing repartition") {
    // Catalyst pushes deterministic filters below RoundRobin repartitions
    // with their defining expressions inlined (predicates duplicate
    // through projections). For text operators that means the whole
    // tokenize/score/shingle tree can end up re-evaluated on the scan's
    // single input split — serializing the CPU-heavy stage the
    // repartition exists to parallelize (measured 15× on dedup_ngram,
    // 2× on pipeline_curate before their round-4 shapes). Assert the
    // segment between every RoundRobin exchange and its scan stays free
    // of tokenizer expressions.
    for (name <- Seq("pipeline_curate", "dedup_ngram", "dedup_minhash",
        "dedup_simhash", "dedup_clusters")) {
      val plan = planOf(name)
      val segments = plan.split("Exchange RoundRobinPartitioning").drop(1)
      // checkpointed plans (dedup_clusters) truncate lineage to an RDD
      // scan — no exchange survives to audit there; every plan that
      // still reads parquet directly must keep its spread
      assert(segments.nonEmpty || !plan.contains("Scan parquet"),
        s"$name lost its RoundRobin spread — audit can't anchor:\n$plan")
      segments.foreach { rest =>
        // the scan must render below each spread, else the audit would
        // silently check an empty segment
        val scanIdx = rest.indexOf("Scan parquet")
        assert(scanIdx >= 0,
          s"$name: no parquet scan below a RoundRobin exchange — plan " +
            s"rendering changed, fix the audit:\n$plan")
        val seg = rest.take(scanIdx)
        assert(!seg.contains("split(lower("),
          s"$name re-evaluates the tokenizer below the repartition " +
            s"(single-split, pre-spread):\n$plan")
      }
    }
  }

  test("CC rounds are single-job: lazy checkpoints, fused convergence count") {
    import graft.dedup.Clusters
    import spark.implicits._
    val sc = spark.sparkContext
    // chain a-b-c needs the seed round plus 2 propagation rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    sc.setJobGroup("cc-audit", "cc job-count audit", true)
    val labels = try Clusters.connectedComponents(pairs, "a", "b").collect()
      finally sc.clearJobGroup()
    assert(labels.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // AQE runs each exchange stage as its own job, so the count is not
    // rounds+1; the bound (measured with ~50% slack) still fails if the
    // per-round eager-checkpoint job or a per-branch upstream re-run
    // creeps back in.
    val deadline = System.nanoTime() + 5e9.toLong
    var jobs = sc.statusTracker.getJobIdsForGroup("cc-audit").length
    while (System.nanoTime() < deadline &&
        sc.statusTracker.getJobIdsForGroup("cc-audit")
          .exists(id => sc.statusTracker.getJobInfo(id)
            .exists(_.status() == org.apache.spark.JobExecutionStatus.RUNNING))) {
      Thread.sleep(50)
      jobs = sc.statusTracker.getJobIdsForGroup("cc-audit").length
    }
    assert(jobs <= 15, s"connectedComponents ran $jobs jobs for a " +
      "2-propagation-round graph — expected one materializing job per " +
      "round plus AQE stage jobs")
  }

  test("sequence packing: single-partition work only on the bucket frame") {
    // The two-level prefix sum exists so the full corpus is NEVER pulled
    // through one reducer: the big-side window must stay partitioned by
    // bucket, and the only SinglePartition exchange may consume the
    // one-row-per-bucket aggregate — not raw rows.
    val plan = planOf("text_pack")
    assert(!plan.contains("Exchange SinglePartition"),
      s"raw rows must never be globally single-partitioned:\n$plan")
    // Structural check (no planner-internal alias names): every
    // hash-partitioning exchange either shuffles on the bucket column
    // (the big-side window repartition) or is THE constant-key bucket
    // exchange — exactly one, whose subtree must aggregate to
    // one-row-per-bucket before any parquet scan appears.
    val lines = plan.linesIterator.toVector
    def nodeDepth(l: String): Int =
      l.indexWhere(c => !" :+-*(0123456789)".contains(c))
    val constantKeyed = lines.zipWithIndex.flatMap { case (l, i) =>
      val m = "Exchange hashpartitioning\\(([^)]*)\\)".r.findFirstMatchIn(l)
      m.filterNot(_.group(1).contains("bucket#")).map(_ => i)
    }
    assert(constantKeyed.length == 1,
      s"expected exactly one non-bucket-keyed (constant-key) exchange:\n$plan")
    val i = constantKeyed.head
    val d = nodeDepth(lines(i))
    val subtree = lines.drop(i + 1).takeWhile(nodeDepth(_) > d)
    val firstAgg = subtree.indexWhere(_.contains("HashAggregate"))
    val firstScan = subtree.indexWhere(_.contains("Scan parquet"))
    assert(firstAgg >= 0 && (firstScan < 0 || firstAgg < firstScan),
      s"constant-key exchange must consume the aggregated bucket " +
        s"frame, not raw rows:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must join back broadcast:\n$plan")
  }

  test("dq checks: scalar rules fold per table, Unique scans only its keys, FK parent broadcast, no Expand") {
    val plan = planOf("dq_checks")
    // every SCALAR rule for a table folds into that table's single
    // aggregate; each Unique rule adds ONE key-column-pruned scan
    // (r17: fused, the mixed-distinct rewrite ships every scalar
    // rule's partial buffers on every per-key exchange row). 4 tables
    // + 2 Unique rules → exactly 6 scans, however many scalar rules.
    assert("Scan parquet".r.findAllIn(plan).length == 6,
      s"expected 4 table scans + 2 Unique key scans:\n$plan")
    // the Unique scans must be pruned to their key columns — the
    // narrow branch reads nothing else
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint>"),
      s"orders Unique scan must read only the key column:\n$plan")
    // the FK parent key set is dimension-sized and must broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"FK check must broadcast the parent keys:\n$plan")
    // the single-distinct rewrite must not degrade to Expand (that is
    // the multi-distinct plan — one Unique rule per aggregate by
    // construction, each in its own branch)
    assert(!plan.contains("Expand"),
      s"dq aggregate planned an Expand:\n$plan")
  }

  test("heavy hitters: bounded object-agg sketch pass, broadcast verify, two scans") {
    val plan = planOf("text_heavyhitters")
    // pass 1: the MG typed buffer must aggregate as ObjectHashAggregate
    // (partial per task, ≤ k counters each) — a sort-based fallback
    // would mean the sketch state stopped combining map-side
    assert(plan.contains("ObjectHashAggregate"),
      s"MG sketch must run as an object hash aggregate:\n$plan")
    // pass 2: the ≤ k candidates must broadcast onto the re-scan — a
    // shuffled join here would shuffle the full posting stream
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate verify must be a broadcast join:\n$plan")
    // exactly the two intrinsic scans (sketch + verify), nothing extra
    assert("Scan parquet".r.findAllIn(plan).length == 2,
      s"expected exactly two document scans:\n$plan")
  }

  test("runtime bloom filter prunes the fact scan under a selective dim filter") {
    // At 100 TB the fact side of a selective join is the dominant scan;
    // Spark's InjectRuntimeFilter turns the dim filter into a bloom
    // `might_contain` predicate on the fact scan so most rows die
    // before the shuffle. The session keeps the feature on
    // (bloomFilter.enabled defaults true); size thresholds hide it at
    // test scale, so this audit forces them to prove the plan shape is
    // available — and that a config regression can't silently turn the
    // optimization off.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val forced = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // SMJ, the 100 TB shape
    val saved = forced.map { case (k, _) => k -> conf.getOption(k) }
    forced.foreach { case (k, v) => conf.set(k, v) }
    try {
      val li = Tables.load(spark, dir, "lineitem")
      val ord = Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val plan = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("decontamination broadcasts the benchmark side, never shuffles it") {
    // the corpus side is the 100 TB side: it must meet the eval-gram
    // set as a broadcast hash relation, not via a sort-merge shuffle
    val plan = planOf("text_decontam")
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"decontam must not shuffle the corpus for the join:\n$plan")
  }

  test("dup-span / incremental-dedup joins stay hash-keyed, never nested-loop") {
    // both operators generate candidates via equi-joins on hashes (gram
    // hash / band value); a nested-loop anywhere means some rewrite
    // dropped the equi-key and the operator went all-pairs
    for (name <- Seq("text_dupspans", "dedup_incremental")) {
      val plan = planOf(name)
      assert(!plan.contains("NestedLoop"),
        s"$name must never nested-loop:\n$plan")
    }
    // the gram doc-frequency aggregate must combine map-side: the
    // shuffle carries distinct (gram, doc) pairs, not raw postings
    val spans = planOf("text_dupspans")
    assert(spans.contains("partial_"),
      s"dup-span df aggregate lost its partial (map-side) phase:\n$spans")
  }

  test("IVF assignment aggregates (max_by), never windows the cross product") {
    val plan = graft.similarity.IVFIndex
      .assign(Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"assignment must not window the vector×centroid stream:\n$plan")
    assert(plan.contains("max_by"), s"expected max_by aggregate:\n$plan")
  }

  test("ivfadc: the ADC screen joins hash-keyed on the cell, never corpus × query") {
    // the composed layout's whole point: the coded corpus meets queries
    // ONLY through the (cell)-keyed hash join against the broadcast
    // probe set; the probe set itself is a driver-built local relation
    // (no join at all), so no nested-loop or cartesian may appear
    // anywhere
    val plan = planOf("sim_ivfpq")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"ADC screen must never pair corpus × query:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the cell-keyed broadcast hash screen:\n$plan")
    assert(plan.contains("nearest_centroid"),
      s"cell and code assignment must run through the codebook argmin:\n$plan")
    // the residual variant shares every stage shape — same guarantees
    val rplan = planOf("sim_ivfpq_res")
    assert(!rplan.contains("BroadcastNestedLoopJoin") &&
      !rplan.contains("CartesianProduct") &&
      rplan.contains("BroadcastHashJoin") &&
      rplan.contains("nearest_centroid"),
      s"residual ADC screen must keep the cell-keyed hash shape:\n$rplan")
  }

  test("bm25: the query-term side broadcasts into the postings join") {
    // the corpus-scale relation is the (doc, term, tf) inverted index;
    // it must meet the 16-row query-term set through a broadcast hash
    // join on the term key — never by shuffling the postings toward a
    // driver-small relation
    val plan = planOf("text_bm25")
    assert(plan.contains("BroadcastHashJoin"),
      s"bm25 postings ⋈ query-terms must broadcast the tiny side:\n$plan")
  }

  test("scd2: exactly one equi-join (full outer), snapshot and CDC modes alike") {
    for (name <- Seq("scd2_apply", "scd2_cdc")) {
      val plan = planOf(name)
      val joins = "SortMergeJoin".r.findAllIn(plan).length +
        "ShuffledHashJoin".r.findAllIn(plan).length
      assert(joins == 1, s"$name must be a single key join:\n$plan")
      assert(plan.contains("FullOuter"), s"$name join must be full outer")
      // the per-key outcome is one generator expression, not a second
      // pass: exactly one Generate (the inline of the outcome array)
      assert("Generate".r.findAllIn(plan).length == 1,
        s"$name outcome must be a single inline generator:\n$plan")
    }
  }

  test("epoch mix: replicas generate where the data lives — no new exchange") {
    val plan = planOf("sample_epochs")
    val exchanges = "Exchange".r.findAllIn(plan).length
    // loadSpread's repartition + the presentation sort's range exchange
    assert(exchanges <= 2,
      s"epoch replication must not shuffle:\n$plan")
    assert(plan.contains("Generate"), "expected the sequence generator")
  }

  test("pmi: top-k cut is a TakeOrdered heap and totals ride a broadcast") {
    val plan = planOf("text_pmi")
    assert(plan.contains("TakeOrderedAndProject"),
      s"pmi top-k must be per-task heaps, not a global sort:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"1-row totals must broadcast:\n$plan")
  }

  test("cms: probe join broadcasts the bounded cell table, no cartesian") {
    val plan = planOf("cms_counts")
    assert(plan.contains("BroadcastHashJoin"),
      s"cms probes must broadcast-join the depth x width cell table:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cms_counts contains a cartesian product:\n$plan")
  }

  test("knn graph: candidate join is cell-keyed, no cartesian") {
    val plan = planOf("sim_knn_graph")
    assert(!plan.contains("CartesianProduct"),
      s"sim_knn_graph contains a cartesian product:\n$plan")
    // the pair stage must be an equi-join on the cell id (the centroid
    // scoring broadcast nested loop is the one intentional cross —
    // vector × tiny centroid set, the IVF assign shape)
    val keyed = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length +
      "BroadcastHashJoin".r.findAllIn(plan).length
    assert(keyed >= 1, s"expected a hash-keyed cell self-join:\n$plan")
  }

  test("semantic dedup: pruning joins are hash-keyed on the cell, anti-join hash-keyed") {
    val plan = planOf("dedup_semantic")
    assert(plan.contains("LeftAnti"), s"survivors must anti-join:\n$plan")
    // the in-cell pair stage must be an equi-join on the cell id, never
    // a nested-loop over vector pairs (the centroid-scoring broadcast
    // nested loop is the one intentional cross — vector × tiny centroid)
    val smj = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length +
      "BroadcastHashJoin".r.findAllIn(plan).length
    assert(smj >= 2, s"expected hash-keyed cell/anti joins:\n$plan")
  }

  test("profile diff: one aggregation pipeline, no join of any kind") {
    // The operator's whole point: both snapshots melt into ONE
    // (col, value) aggregate (side folded into the aggregates, so
    // shared values merge before the shuffle) and the per-column
    // comparison is conditional aggregation — at 100 TB nothing joins,
    // the shuffles carry O(distinct values) and then O(columns) rows.
    val plan = planOf("profile_diff")
    assert(!"(?i)join".r.findFirstIn(plan).isDefined,
      s"profile comparison must not join:\n$plan")
    assert(!plan.contains("Expand"),
      s"profile sides must not expand rows per aggregate:\n$plan")
    assert(plan.contains("Union"), s"expected the two melted sides:\n$plan")
  }

  test("robust outliers: rank passes and rollup share one exchange") {
    val plan = planOf("q_outliers")
    // one hashpartitioning exchange (the grp key all four windows and
    // the final aggregate reuse); the only other exchange is the
    // display orderBy's range partitioning
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1,
      s"windows and rollup must reuse one grp partitioning:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no global single-partition pass:\n$plan")
  }

  test("curriculum order: single-partition work only on the bucket frame") {
    // same contract as text_pack: the corpus crosses one (stage, sub)
    // exchange; the tiny window — whether it keeps the constant hash
    // key or Catalyst folds it to an explicit SinglePartition —
    // consumes the one-row-per-bucket aggregate; offsets broadcast
    // back. Structural: every exchange that is NOT (stage, sub)-keyed
    // must sit above an aggregate, never above a raw scan.
    val plan = planOf("corpus_order")
    val lines = plan.linesIterator.toVector
    def nodeDepth(l: String): Int =
      l.indexWhere(c => !" :+-*(0123456789)".contains(c))
    val tinyExchanges = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange SinglePartition") => i
      case (l, i) if "Exchange hashpartitioning\\(([^)]*)\\)".r
        .findFirstMatchIn(l).exists(!_.group(1).contains("stage#")) => i
    }
    assert(tinyExchanges.length == 1,
      s"expected exactly one bucket-frame exchange:\n$plan")
    val i = tinyExchanges.head
    val d = nodeDepth(lines(i))
    val subtree = lines.drop(i + 1).takeWhile(nodeDepth(_) > d)
    val firstAgg = subtree.indexWhere(_.contains("HashAggregate"))
    val firstScan = subtree.indexWhere(_.contains("Scan parquet"))
    assert(firstAgg >= 0 && (firstScan < 0 || firstAgg < firstScan),
      s"the bucket-frame exchange must consume the aggregated " +
        s"one-row-per-bucket frame, not raw rows:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must join back broadcast:\n$plan")
  }

  test("prefix-filter join: doc-partitioned windows, hash-keyed joins only") {
    // gate-only query — outside the benchQueries cartesian sweep, so
    // it gets its own audit
    val plan = planOf("dedup_ssjoin")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"every ssjoin join must be equi-keyed:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"the rank windows must stay doc-partitioned:\n$plan")
  }

  test("sorted neighborhood: range rank, banded equi-join, no global sort of rows") {
    val plan = planOf("er_sorted")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"window pairing must be the banded equi-join:\n$plan")
    assert(plan.contains("Exchange rangepartitioning"),
      s"the global rank must come from a range exchange:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no frame may be globally single-partitioned " +
        s"(offsets ride a constant-key hash exchange):\n$plan")
    // the one constant-keyed exchange is the per-partition count
    // frame: its subtree must aggregate before any scan appears
    val lines = plan.linesIterator.toVector
    def nodeDepth(l: String): Int =
      l.indexWhere(c => !" :+-*(0123456789)".contains(c))
    val constantKeyed = lines.zipWithIndex.flatMap { case (l, i) =>
      "Exchange hashpartitioning\\(([^)]*)\\)".r.findFirstMatchIn(l)
        .filterNot(m => m.group(1).contains("_band#") ||
          m.group(1).contains("_lid#"))
        .map(_ => i)
    }
    constantKeyed.foreach { i =>
      val d = nodeDepth(lines(i))
      val subtree = lines.drop(i + 1).takeWhile(nodeDepth(_) > d)
      val firstAgg = subtree.indexWhere(_.contains("HashAggregate"))
      val firstScan = subtree.indexWhere(_.contains("Scan parquet"))
      assert(firstAgg >= 0 && (firstScan < 0 || firstAgg < firstScan),
        s"a constant-key exchange consumes raw rows:\n$plan")
    }
  }

  test("ppl buckets: grouped rank rides the range exchange, never a per-lang window") {
    val plan = planOf("text_ppl_buckets")
    assert(plan.contains("Exchange rangepartitioning"),
      s"the grouped rank must come from globalRank's range exchange:\n$plan")
    // the hazard this operator exists to avoid: a corpus-scale window
    // partitioned by the group column (one reducer per language)
    assert(!plan.linesIterator.exists(l =>
        l.contains("Window") && l.contains("lang#")),
      s"no window may partition the corpus by language:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-group count/base frame must broadcast back:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    spark.catalog.clearCache()
  }

  test("novelty: first-owner aggregate + hash joins, corpus never paired") {
    val plan = planOf("text_novelty")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"novelty must never pair documents:\n$plan")
    // no window anywhere: ownership is min() per shingle, an aggregate
    assert(!plan.contains("Window"),
      s"novelty needs no window functions:\n$plan")
    spark.catalog.clearCache()
  }

  test("multi-probe lsh: probe fan-out stays query-side, bucket join equi-keyed") {
    val plan = planOf("sim_lsh_multiprobe")
    assert(!plan.contains("CartesianProduct"),
      s"multiprobe must never cross corpus and queries:\n$plan")
    // the margin explode must sit above a query-side filter (vec_id
    // predicate pushed below the generator), never above the full
    // corpus
    val lines = plan.linesIterator.toVector
    // the margin rank path plans as posexplode (position = plane id);
    // accept either generator spelling
    val gen = lines.indexWhere(l => l.contains("Generate explode") ||
      l.contains("Generate posexplode"))
    assert(gen >= 0, s"expected the probe explode:\n$plan")
    val below = lines.drop(gen).mkString("\n")
    assert(below.contains("vec_id"),
      s"probe explode must be on the filtered query side:\n$plan")
  }

  test("hilbert layout audit: one aggregation, shifts broadcast, no shuffle of raw rows") {
    val plan = planOf("hilbert_stats")
    assert(!plan.contains("CartesianProduct"), plan)
    // the quant-shift extent is a SCALAR aggregate: its final stage is
    // a single partition by definition but consumes only the partial
    // aggregates (2 longs per task), never raw rows — assert each
    // SinglePartition exchange is fed by a partial HashAggregate
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(i + 1 < lines.length && lines(i + 1).contains("partial_"),
          s"single-partition stage must consume partial aggregates:\n$plan")
      }
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the 1-row quant-shift frame must broadcast:\n$plan")
  }

  test("equi-depth: no global window; tiny exchanges consume aggregates") {
    val plan = planOf("q_equidepth")
    val lines = plan.linesIterator.toVector
    def nodeDepth(l: String): Int =
      l.indexWhere(c => !" :+-*(0123456789)".contains(c))
    // exchanges that aren't sub-keyed (the distributed rank window) or
    // the parallelizing round-robin must consume aggregated frames —
    // the extent and the per-sub-bucket count table — never raw rows
    val tiny = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange SinglePartition") => i
      case (l, i) if "Exchange hashpartitioning\\(([^)]*)\\)".r
        .findFirstMatchIn(l).exists(!_.group(1).contains("sub#")) => i
    }
    tiny.foreach { i =>
      val d = nodeDepth(lines(i))
      val subtree = lines.drop(i + 1).takeWhile(nodeDepth(_) > d)
      val firstAgg = subtree.indexWhere(_.contains("HashAggregate"))
      val firstScan = subtree.indexWhere(_.contains("Scan parquet"))
      assert(firstAgg >= 0 && (firstScan < 0 || firstAgg < firstScan),
        s"an exchange single-partitions raw rows:\n$plan")
    }
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"extent/offsets must broadcast:\n$plan")
  }

  test("binquant: WindowGroupLimit screen, fused pack, hash re-join") {
    val plan = planOf("sim_binquant")
    spark.catalog.clearCache() // the operator persists the code frame
    // the Hamming screen must keep the partial top-candidates cut
    assert(plan.contains("WindowGroupLimit"),
      s"screen lost its partial per-partition top-k:\n$plan")
    // fingerprints ride one fused expression, not 128 dot sub-trees
    assert(plan.contains("sign_pack_words"),
      s"pack must run through the fused SignPackWords:\n$plan")
    // candidates re-join the corpus through a hash join, not a loop
    assert(plan.contains("BroadcastHashJoin"),
      s"re-rank must hash-join the candidate set:\n$plan")
  }

  test("hardmine: ONE aggregate pass, never a window over anchor×corpus") {
    val plan = planOf("sim_hardmine")
    assert(!plan.contains("Window"),
      s"extremes must fold in the aggregate, not a window:\n$plan")
    assert(plan.contains("partial_"),
      s"the extremes aggregate lost its map-side phase:\n$plan")
  }

  test("keyskew and corr: single-scan aggregates, no joins anywhere") {
    for (name <- Seq("dq_keyskew", "q_corr")) {
      val plan = planOf(name)
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
      assert(!plan.contains("Window"), s"$name must not window:\n$plan")
      assert("Scan parquet".r.findAllIn(plan).length == 1,
        s"$name must scan its table exactly once:\n$plan")
    }
  }

  test("ewma: daily census + broadcast max-day, no window, no range sort") {
    val plan = planOf("events_ewma")
    assert(!plan.contains("Window"), s"ewma must not window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the max-day frame must broadcast:\n$plan")
  }

  test("bpe segment: merge rules are plan literals — no join, no hash exchange") {
    // trains 8 rounds at plan build (iterative-literal pattern), then
    // the corpus side must be a pure scan -> chained-ApplyMerge
    // projection: the only exchange is the output orderBy's range
    // partitioning, and every learned rule appears as an apply_merge
    // call in ONE projection pipeline
    val plan = planOf("text_bpe_segment")
    spark.catalog.clearCache() // training persisted the word table
    assert(!plan.contains("Join"),
      s"segment corpus side must not join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"segment must not shuffle the corpus:\n$plan")
    assert("apply_merge".r.findAllIn(plan).length >= 8,
      s"all 8 learned rules must ride the projection as literals:\n$plan")
  }
}
