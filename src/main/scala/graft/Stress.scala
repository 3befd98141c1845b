package graft

import graft.dedup.{Clusters, MinHashLSH}
import graft.text.{Curation, SeqPack}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Scale-stress main (dev tool, like [[Trace]]): runs each operator
  * family on a deliberately adversarial blow-up of the testdata under
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints wall-clock seconds.
  * These are the numbers SURVEY §2.10 / §9 cite; re-run after touching
  * any hot-path operator.
  *
  * The scenarios are one ordered [[table]]. Each entry stages its
  * inputs untimed, then records one or more labelled timings
  * ([[Stage.timed]]), each printed as `STRESS <label> <seconds> s
  * rows=<n>`; the entry's `require`s are its correctness checks. Every
  * entry runs through [[Runner.step]], so a failing entry is reported
  * and the next one still runs; caches are dropped at the end of each
  * entry. The run ends with one [[Bench.finalLine]] over the labels
  * (a failed entry appears under its own name with its error) and
  * exits non-zero if any entry failed.
  *
  * {{{
  * SPARK_GRAFT_ONLY=cc,diff sbt "runMain graft.Stress"
  * }}}
  * `SPARK_GRAFT_ONLY` selects entries by name, as for Bench; unset runs
  * the whole table.
  */
object Stress {

  /** One named scenario: `body` stages its inputs and records its
    * labelled timings.
    */
  final case class Scenario(name: String, body: Stage => Unit)

  /** What a scenario runs against: the session, the input directory, a
    * scratch directory of its own (removed when the scenario ends) and
    * the input builders the scenarios share.
    */
  final class Stage(val spark: SparkSession, val dir: String,
      val scratch: String) {
    private[Stress] val timings = mutable.ArrayBuffer.empty[(String, Double)]

    /** Time `body`, whose result is the row count printed with it. */
    def timed(label: String)(body: => Long): Unit = {
      var n = 0L
      val s = Runner.seconds { n = body }
      println(f"STRESS $label%-12s $s%8.2f s   rows=$n")
      timings += label -> s
    }

    /** Materialize an input frame before timing: the synthetic blow-up
      * generators (interpreted HOFs) are test scaffolding, not the
      * operator under measurement — at scale the input is a table.
      */
    def staged(df: DataFrame): DataFrame = {
      val cached = df.persist()
      Runner.noop(cached)
      cached
    }

    def load(table: String): DataFrame = queries.Tables.load(spark, dir, table)
    def loadSpread(table: String): DataFrame =
      queries.Tables.loadSpread(spark, dir, table)

    /** The six orders columns the diff-family blow-ups copy. */
    def orders: DataFrame = load("orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"))

    /** `n` copies of `df`, copy c re-keyed to `idCol + c·stride` (the
      * copies' keyspaces stay disjoint while every base key is below
      * `stride`), then `spread` over 32 partitions.
      */
    def copies(df: DataFrame, idCol: String, n: Int,
        stride: Long = 1000000L, spread: Boolean = true): DataFrame = {
      val out = df.select(col("*"),
          explode(sequence(lit(0), lit(n - 1))).as("copy"))
        .withColumn(idCol, col(idCol) + col("copy") * stride)
        .drop("copy")
      if (spread) out.repartition(32) else out
    }

    /** 10 re-keyed copies of the documents table: every doc belongs to
      * a ten-clone exact-duplicate cluster.
      */
    def corpus10x: DataFrame =
      copies(loadSpread("documents").select("doc_id", "text"), "doc_id", 10)

    /** The fastest of three runs of `body`, in milliseconds. */
    def minMs(body: => Unit): Double =
      (1 to 3).map(_ => Runner.seconds(body) * 1e3).min

    /** A synthetic transaction log at `t`: `commits` commits of `adds`
      * manifest entries each, file j of commit c covering the keys
      * [(c·adds + j)·1000, +999] (the fold never touches data files).
      */
    def synthLog(t: String, commits: Int, adds: Int,
        bytes: Option[Long] = None): Unit = {
      import tables.TxLog
      import tables.TxLog.{AddFile, ColStats, Commit}
      (1 to commits).foreach { v =>
        val c = v - 1
        val files = (0 until adds).map { j =>
          val lo = (c.toLong * adds + j) * 1000L
          AddFile(f"data/op$c%03d/part-$j%05d.parquet", 1000L,
            Map("k" -> ColStats("long", lo.toString,
              (lo + 999).toString, Some(false))), bytes = bytes)
        }
        require(TxLog.tryCommit(spark, t, Commit(v,
          if (v == 1) "create" else "append", files, Seq.empty,
          if (v == 1) Some("k BIGINT,v BIGINT") else None,
          if (v == 1) Some(Seq("k")) else None)), s"commit $v lost")
      }
    }

    /** `n` synthetic (vec_id, embedding) rows over 32 partitions:
      * component j of vector id is `hash(id mod period, j) / 2^31`, so
      * ids `period` apart are exact duplicates.
      */
    def vectors(n: Long, dim: Int, period: Long = Long.MaxValue): DataFrame =
      spark.range(0L, n, 1L, 32).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => hash(pmod(col("id"), lit(period)), j).cast("double")
            / 2147483648.0d).as("embedding"))
  }

  private def entry(name: String)(body: Stage => Unit) = Scenario(name, body)

  /** Every scenario, in run order. */
  val table: Seq[Scenario] = Seq(
    entry("cc") { st => import st._
      // 50k ten-node cliques: nodes c*10+j, all 45 intra-clique edges
      val pairs = staged(spark.range(50000).select(col("id").as("c"),
          explode(expr("transform(flatten(transform(sequence(0,8), i -> " +
            "transform(sequence(i+1,9), j -> struct(i, j)))), " +
            "p -> struct(p.i as a, p.j as b))")).as("e"))
        .select((col("c") * 10 + col("e.a")).as("a"),
          (col("c") * 10 + col("e.b")).as("b"))
        .repartition(32))
      timed("cc") {
        val comps = Clusters.connectedComponents(pairs, "a", "b")
          .agg(countDistinct(col("comp"))).head().getLong(0)
        require(comps == 50000L, s"expected 50000 components, got $comps")
        comps
      }
    },

    entry("minhash") { st => import st._
      val corpus = staged(corpus10x)
      timed("minhash") {
        MinHashLSH.nearDuplicatePairs(corpus, "doc_id", "text").count()
      }
    },

    entry("ssjoin") { st => import st._
      // the prefix-filter join's reason to exist, at scale: 51k docs
      // ALL sharing a 10-word boilerplate footer. The plain postings
      // self-join would fan out df² ≈ 51k² candidate rows through each
      // of the ~8 footer shingles (~2·10^10 rows — unrunnable); the
      // footer shingles sort LAST in the (df, sh) order and never
      // enter any prefix, so the exact join runs in seconds. Copies
      // get per-copy word suffixes (disjoint shingles across copies;
      // the copy index is doc_id div 10^6); every 50th doc also plants
      // an exact-clone twin at id + 10^7.
      val footer = (0 until 10).map(i => s"foot$i").mkString(" ")
      val base = copies(loadSpread("documents").select("doc_id", "text"),
          "doc_id", 10, spread = false)
        .withColumn("text", concat(
          expr("array_join(transform(split(text, ' '), " +
            "w -> concat(w, '_c', doc_id div 1000000)), ' ')"),
          lit(s" $footer")))
      val twins = base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val corpus = staged(base.unionByName(twins).repartition(32))
      val nTwins = twins.count()
      timed("ssjoin") {
        val pairs = graft.dedup.PrefixFilterJoin
          .nearDuplicatePairs(corpus, "doc_id", "text").persist()
        val cross = pairs.filter(col("doc_b") >= 10000000L)
        // completeness: every planted twin pair must be found (J = 1)
        val planted = cross
          .filter(col("doc_b") - col("doc_a") === 10000000L).count()
        require(planted == nTwins,
          s"expected all $nTwins planted twin pairs, got $planted")
        pairs.count()
      }
    },

    entry("dupspans") { st => import st._
      // every doc in a 10-clone cluster: EVERY gram is shared, so every
      // doc collapses into one full-length span — worst case for the
      // shared-gram join (no posting is filtered out) and the island
      // window (maximal group sizes)
      val corpus = staged(corpus10x)
      val nDocs = corpus.count()
      timed("dupspans") {
        val spans = graft.text.DupSpans.spans(corpus, "doc_id", "text")
        val n = spans.count()
        // every doc must merge into exactly one full-length span
        require(n == nDocs, s"expected one span per doc ($nDocs), got $n")
        n
      }
      // excise's figures (SURVEY §9) include rebuilding the unstaged
      // corpus
      spark.catalog.clearCache()
      timed("excise") {
        // all-duplicated corpus: every doc fully covered → every doc
        // comes back empty (reassembly's worst case: nothing survives,
        // but every input row must still be accounted for)
        val out = graft.text.DupSpans.excise(corpus, "doc_id", "text")
        val empties = out.filter(col("clean_text") === "").count()
        require(empties == nDocs, s"expected $nDocs empty docs, got $empties")
        out.count()
      }
    },

    entry("incr") { st => import st._
      // 500k-doc ingest batch screened against the 50k-doc standing
      // corpus; every batch doc is an exact (and near) dup of exactly
      // one corpus doc — maximal screen hit rate, zero keeps
      val corpus = staged(loadSpread("documents"))
      val batch = staged(corpus10x)
      def zeroKeeps(v: DataFrame): Long = {
        val keeps = v.filter(col("keep") === 1).count()
        require(keeps == 0L, s"expected zero keeps, got $keeps")
        v.count()
      }
      timed("incr") {
        zeroKeeps(graft.dedup.IncrementalDedup
          .verdicts(corpus, batch, "doc_id", "text"))
      }
      // a prebuilt corpus index as staging tables; each screen below
      // runs on a cleared cache, as its SURVEY figures were taken
      def prebuilt(from: DataFrame, at: String) = {
        val built = graft.dedup.IncrementalDedup
          .buildIndex(from, "doc_id", "text")
        built.textHashes.distinct().write.parquet(s"$at/h") // keep the write-time distinct invariant writeIndex maintains (r16 advice)
        built.bands.write.parquet(s"$at/bands")
        built.shingles.write.parquet(s"$at/shingles")
        spark.catalog.clearCache()
        graft.dedup.IncrementalDedup.CorpusIndex(
          spark.read.parquet(s"$at/h"),
          spark.read.parquet(s"$at/bands"),
          spark.read.parquet(s"$at/shingles"))
      }
      // the production path: the corpus index is PREBUILT (staging
      // tables); an ingest batch pays only its own shingling + the
      // screens. incr-prebuilt vs incr isolates that saving.
      val idx = prebuilt(corpus, s"$scratch/idx")
      timed("incr-prebuilt") {
        zeroKeeps(graft.dedup.IncrementalDedup.verdicts(idx, batch,
          "doc_id", "text", graft.dedup.MinHashLSH.Config()))
      }
      // inverted, REALISTIC direction: corpus 10× the batch (at 100 TB
      // the ratio is far more extreme and re-shingling the corpus per
      // batch is simply impossible) — the prebuilt screen pays only the
      // small batch's shingling, so this is the headline saving
      val bigIdx = prebuilt(batch, s"$scratch/idx2") // the 10× frame as corpus
      timed("incr-smallbatch") {
        zeroKeeps(graft.dedup.IncrementalDedup.verdicts(bigIdx, corpus,
          "doc_id", "text", graft.dedup.MinHashLSH.Config()))
      }
    },

    entry("curate") { st => import st._
      val corpus = staged(corpus10x)
      timed("curate") {
        Curation.curate(corpus, "doc_id", "text").count()
      }
    },

    entry("pack") { st => import st._
      // 10M docs with deterministic pseudo-random token counts 1..997:
      // the hierarchical prefix sum over 100 buckets of 100k docs each.
      val docs = staged(spark.range(10000000L)
        .select(col("id"), (pmod(col("id") * 2654435761L, lit(997L)) + 1L)
          .as("tok"))
        .repartition(32))
      timed("pack") {
        val packed = SeqPack.packPlan(docs, "id", "tok",
          seqLen = 2048, bucketWidth = 100000L)
        val end = packed.agg(max(col("start_off") + col("n_tokens")))
          .head().getLong(0)
        val want = docs.agg(sum(col("tok"))).head().getLong(0)
        require(end == want, s"stream end $end != token sum $want")
        packed.count()
      }
    },

    entry("shards") { st => import st._
      // 10M-row corpus written as 64 shards × 4 splits — a real disk
      // write (parquet + partitionBy), verified lossless on read-back.
      val docs = staged(spark.range(10000000L)
        .select(col("id"), md5(col("id").cast("string")).as("payload"))
        .repartition(32))
      timed("shards") {
        operators.Sharding.writeShards(docs, "id", nShards = 64,
          scratch, tasksPerShard = 4)
        val n = spark.read.parquet(scratch).count()
        require(n == 10000000L, s"round-trip lost rows: $n")
        n
      }
    },

    entry("decontam") { st => import st._
      // 10× corpus (500k docs at sf0.1) against a 5k-doc benchmark set —
      // the realistic ratio: the eval grams broadcast, the corpus side
      // streams through map-side
      val corpus = staged(corpus10x)
      val eval = loadSpread("documents").filter(col("doc_id") % 10 === 0)
      timed("decontam") {
        graft.text.Decontam.overlap(corpus, eval, "doc_id", "text").count()
      }
    },

    entry("chunks") { st => import st._
      val corpus = staged(corpus10x)
      timed("chunks") {
        graft.text.Chunker.chunks(corpus, "doc_id", "text").count()
      }
    },

    entry("aggmerge") { st => import st._
      // 10M-key standing aggregate updated by a 100k-row delta — the
      // daily-ingest ratio; merged result must carry every base key
      // plus the delta's new ones, with history never rescanned
      val base = staged(operators.AggMerge.aggregate(
        spark.range(10000000L).select(
          col("id").cast("string").as("k"),
          (col("id") % 1000).cast("double").as("v")),
        Seq("k"), "v"))
      val deltaRows = staged(spark.range(100000L).select(
        // half touch existing keys, half are new
        when(col("id") % 2 === 0, col("id").cast("string"))
          .otherwise(concat(lit("new"), col("id").cast("string"))).as("k"),
        lit(1.5d).as("v")).repartition(32))
      timed("aggmerge") {
        val merged = operators.AggMerge.upsert(base, deltaRows, Seq("k"), "v")
        val n = merged.count()
        require(n == 10050000L, s"expected 10.05M keys, got $n")
        n
      }
    },

    entry("funnel") { st => import st._
      // 5M events / 7,499 users (coprime to the 4-type cycle, so every
      // user's type rotates round-robin): one ts per user per round ⇒
      // every user hits view→click→purchase in order within 12 rounds
      // of ~667 — all users complete the funnel, one exchange
      val ev = staged(spark.range(5000000L).select(
        (col("id") % 7499L).as("u"),
        element_at(typedLit(Seq("view", "click", "purchase", "other")),
          (col("id") % 4 + 1).cast("int")).as("t"),
        (col("id") / 7499L).as("ts"))
        .repartition(32))
      timed("funnel") {
        val stages = operators.Funnel.stages(ev, "u", "t", "ts",
          Seq("view", "click", "purchase")).collect()
        require(stages.length == 3)
        require(stages.forall(_.getLong(2) == 7499L),
          s"every user must complete all stages: ${stages.mkString(";")}")
        stages.length.toLong
      }
    },

    entry("anomaly") { st => import st._
      timed("anomaly") { // rolling z over 5M events
        val scored = operators.Anomaly.rollingZ(
          spark.range(5000000L).select(
            (col("id") % 5).cast("string").as("g"),
            timestamp_micros(lit(1704067200000000L) +
              expr("id DIV 5") * 3000000L).as("ts")), // 3 s apart → ~833 h
          "g", "ts")
        scored.count()
      }
    },

    entry("bloomdecontam") { st => import st._
      // the regime overlapBloom exists for: an eval side whose gram SET
      // is too big to want as a broadcast string relation — 200k synth
      // docs of unique tokens (~1.6M distinct 3-grams) plus the real
      // benchmark slice so the overlap is non-trivial. The Bloom path
      // must agree with the broadcast path row-for-row in count.
      val corpus = staged(corpus10x)
      val uniqueBulk = spark.range(200000L)
        .select((col("id") + 10000000L).as("doc_id"),
          concat_ws(" ", (0 until 10).map(j =>
            md5(concat(col("id").cast("string"), lit(s"_$j")))): _*)
            .as("text"))
      val eval = staged(loadSpread("documents")
        .filter(col("doc_id") % 10 === 0).select("doc_id", "text")
        .unionByName(uniqueBulk))
      var nBloom = 0L
      timed("bloomdecon") {
        nBloom = graft.text.Decontam
          .overlapBloom(corpus, eval, "doc_id", "text").count()
        nBloom
      }
      // the SURVEY's bloom-vs-broadcast comparison ran the broadcast
      // path on unstaged inputs
      spark.catalog.clearCache()
      timed("decon-ref") { // broadcast path on the same inputs
        val n = graft.text.Decontam
          .overlap(corpus, eval, "doc_id", "text").count()
        require(n == nBloom, s"bloom path $nBloom != broadcast path $n")
        n
      }
    },

    entry("lmscore") { st => import st._
      // score the 10× corpus against its own model: a per-row
      // projection end to end — must stay within small multiples of
      // the encode pass
      val corpus = staged(corpus10x)
      val nDocs = corpus.count()
      // materialize the fit OUTSIDE the timed blocks — a lazy model
      // frame would re-run the full corpus fit inside both timings;
      // materialize RESULTS through the noop write — count() on a pure
      // projection lets column pruning delete the scoring itself
      // (same rule as Bench)
      val fitted = staged(graft.text.LmScore.model(corpus, "doc_id", "text"))
      timed("lmscore") { // interpreted HOF fold
        Runner.noop(graft.text.LmScore.scoreWith(corpus, "doc_id", "text",
          fitted))
        nDocs
      }
      timed("lmscore-fast") { // codegen'd UnigramScore expression
        Runner.noop(graft.text.LmScore.scoreFast(corpus, "doc_id", "text",
          fitted))
        nDocs
      }
      val n = graft.text.LmScore
        .scoreFast(corpus, "doc_id", "text", fitted).count()
      require(n == nDocs, s"lmscore dropped docs: $n != $nDocs")
    },

    entry("classifier") { st => import st._
      // NB + DSIR at the 500k-doc scale: both trainers are aggregates
      // with bounded outputs (top-K vocab rows / B bucket cells), both
      // scorers are pure projections — fit must stay near one corpus
      // tokenize, scoring near the lmscore-fast pass, and the screen
      // must stay non-degenerate on the cloned corpus
      val corpus = staged(copies(loadSpread("documents")
        .select("doc_id", "text", "source"), "doc_id", 10))
      val nDocs = corpus.count()
      val cfg = graft.text.NbQuality.Config()
      var m: graft.text.NbQuality.Model = null
      timed("nbfit") {
        m = graft.text.NbQuality.fit(corpus, "doc_id", "text", cfg); nDocs
      }
      timed("nbscore") {
        Runner.noop(graft.text.NbQuality.scoreWith(corpus, "doc_id", "text",
          m)); nDocs
      }
      val dcfg = graft.text.Dsir.Config()
      var dm: graft.text.Dsir.Model = null
      timed("dsirfit") {
        dm = graft.text.Dsir.fit(corpus, "doc_id", "text", dcfg); nDocs
      }
      timed("dsirscore") {
        Runner.noop(graft.text.Dsir.scoreWith(corpus, "doc_id", "text",
          dcfg.buckets, dm)); nDocs
      }
      val kept = graft.text.NbQuality.scoreWith(corpus, "doc_id", "text", m)
        .filter(col("pred") === 1).count()
      require(kept > 0 && kept < nDocs, s"nb screen degenerate: $kept/$nDocs")
    },

    entry("encode") { st => import st._
      // vocab-encode the 10× corpus: the one-row-map broadcast must keep
      // the corpus side shuffle-free at 500k docs; every doc comes back,
      // and clones of the same doc encode identically (spot-checked via
      // distinct sequences ≤ distinct base docs)
      val corpus = staged(corpus10x)
      val nDocs = corpus.count()
      timed("encode") { // noop write: count() would prune the encoding
        Runner.noop(graft.text.Vocab.encode(corpus, "doc_id", "text"))
        nDocs
      }
      val enc = graft.text.Vocab.encode(corpus, "doc_id", "text")
      require(enc.count() == nDocs, "encode dropped docs")
      val distinctSeqs = enc.select("token_ids").distinct().count()
      require(distinctSeqs <= nDocs / 10,
        s"clones must encode identically: $distinctSeqs distinct sequences")
    },

    entry("heavyhitters") { st => import st._
      // 20M postings: 16 planted heavy items (30% of mass, each ≥1.25%
      // share) over a 1M-distinct tail — ~3000× more distinct items
      // than the 320 MG counters, so eviction runs constantly and the
      // naive groupBy alternative would shuffle 1M rows to discard all
      // but 16
      val items = staged(spark.range(20000000L).select(
        when(col("id") % 10 < 3,
            concat(lit("h"), (col("id") % 16).cast("string")))
          .otherwise(concat(lit("t"), (col("id") % 1000000L).cast("string")))
          .as("t")).repartition(32))
      var got: Array[org.apache.spark.sql.Row] = null
      timed("heavyhitters") {
        got = operators.HeavyHitters.exact(items, "t", denom = 256, k = 320)
          .collect() // ≤ k rows by construction
        require(got.length == 16, s"expected the 16 planted heavy items, " +
          s"got ${got.length}")
        got.length.toLong
      }
      // exactness cross-check outside the timing: the naive full
      // frequency table must agree count-for-count
      val naive = items.groupBy("t").count()
        .where(col("count") * 256 > 20000000L).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val gotMap = got.map(r => r.getString(0) -> r.getLong(1)).toMap
      require(gotMap == naive, s"two-pass != naive: $gotMap vs $naive")
    },

    entry("hll") { st => import st._
      // same regime as the kmv case: 10M postings / 32 groups, all
      // values distinct — the constant-size registers must land within
      // the 6.5%-σ envelope while shuffling 256 bytes per (group, task)
      val posts = staged(spark.range(10000000L)
        .select(pmod(col("id"), lit(32L)).cast("string").as("grp"),
          md5(col("id").cast("string")).as("v"))
        .repartition(32))
      timed("hll") {
        val rows = operators.HllSketch.distinctEstimateAgg(posts, "grp", "v")
          .collect()
        rows.foreach { r =>
          val est = r.getAs[Double]("est_raw")
          val truth = 312500.0
          // max-over-32-groups of a 6.5%-σ estimator: 0.3 ≈ 4.6σ (the
          // kmv case uses the same allowance); observed worst 22%
          require(math.abs(est - truth) / truth < 0.3,
            s"group ${r.getString(0)} estimate $est too far from $truth")
        }
        rows.length.toLong
      }
    },

    entry("kmv") { st => import st._
      // 10M (group, value) postings over 32 groups, millions of
      // distinct values per group — the cardinality regime the sketch
      // exists for; estimates must land within the KMV error bound
      val posts = staged(spark.range(10000000L)
        .select(pmod(col("id"), lit(32L)).cast("string").as("grp"),
          md5(col("id").cast("string")).as("v"))
        .repartition(32))
      timed("kmv") {
        val rows = operators.KmvSketch.distinctEstimate(posts, "grp", "v",
          k = 256).collect()
        rows.foreach { r =>
          val est = r.getDouble(3)
          val truth = 312500.0 // 10M / 32, all values distinct
          require(math.abs(est - truth) / truth < 0.3,
            s"group ${r.getString(0)} estimate $est too far from $truth")
        }
        rows.length.toLong
      }
      // kmv-agg is timed over the unstaged postings, so its figure
      // stays comparable across runs
      spark.catalog.clearCache()
      var aggRows: Array[org.apache.spark.sql.Row] = null
      timed("kmv-agg") { // the single-shuffle KmvBottomK form, same input
        aggRows = operators.KmvSketch.distinctEstimateAgg(posts, "grp", "v",
          k = 256).collect()
        aggRows.length.toLong
      }
      // cross-check outside the timing: bit-identical to the composable form
      val comp = operators.KmvSketch.distinctEstimate(posts, "grp", "v",
        k = 256).collect()
      require(aggRows.map(_.toString).sorted.sameElements(
        comp.map(_.toString).sorted), "agg form diverged from composable")
    },

    entry("diffskew") { st => import st._
      // One pathological hot key carrying 50% of s1's rows at the 15×
      // scale — the dirty-input case the full-outer plan cannot spread:
      // AQE's OptimizeSkewedJoin refuses FULL OUTER (verified: neither
      // side of a full-outer partition may be replicated), so the hot
      // partition runs as ONE task. The skewResilient decomposition
      // (inner ∪ anti ∪ anti) is splittable; this case proves AQE
      // actually splits it (skewed-marker in the final adaptive plan)
      // and that both modes agree on every flag count.
      // The 32-way spread matters: AQE splits a skewed reduce partition
      // at MAP granularity only — a single-split parquet read caches as
      // ONE partition, one map task, and the hot partition becomes a
      // single indivisible block (diagnosed empirically; the 100 TB
      // reality is thousands of map tasks, which this models). Copies
      // are spaced 1e9 apart, as in the diff case.
      val clean = staged(copies(orders, "o_orderkey", 15, 1000000000L))
      val hot = staged(clean.withColumn("o_orderkey",
        when(col("o_custkey") % 2 === 0, lit(42L)).otherwise(col("o_orderkey"))))
      val saved = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
        // the session pins this FALSE to stop AQE coalescing small cached
        // frames (SURVEY §9); here the cached frame IS the skewed join, so
        // the split must be allowed through the cache materialization
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"
      ).map { case (key, v) =>
        val old = spark.conf.getOption(key); spark.conf.set(key, v); key -> old
      }
      try {
        var resilientCounts: diff.FlagCounts = null
        timed("diffskew-res") {
          val res = diff.DataColDiff.computeDataframeDiff(
            hot, clean, Seq("o_orderkey"), skewResilient = true)
            .fold(mm => throw new IllegalArgumentException(mm.message), identity)
          resilientCounts = res.counts
          // the final adaptive plan must show split skewed partitions and
          // each side's exchange reused across its two joins
          val plan = res.diff.queryExecution.executedPlan.toString
          require(plan.toLowerCase.contains("skewed"),
            s"AQE did not split the hot partition:\n$plan")
          // no ReusedExchange by design: Catalyst prunes each piece's
          // columns separately, so the anti joins shuffle KEYS ONLY
          // (~10% extra bytes) instead of reusing the full-row exchange
          require("Exchange hashpartitioning".r.findAllIn(plan).length >= 6,
            s"expected six per-piece exchanges (column-pruned):\n$plan")
          res.diff.unpersist()
          resilientCounts.total
        }
        // the full-outer contrast runs on unstaged inputs, so its
        // figure stays comparable across runs
        spark.catalog.clearCache()
        timed("diffskew-fo") { // the unsplittable full-outer, for contrast
          val res = diff.DataColDiff.computeDataframeDiff(
            hot, clean, Seq("o_orderkey"))
            .fold(mm => throw new IllegalArgumentException(mm.message), identity)
          require(res.counts == resilientCounts,
            s"mode mismatch: full-outer ${res.counts} vs resilient $resilientCounts")
          res.diff.unpersist()
          res.counts.total
        }
      } finally saved.foreach { case (key, old) =>
        old.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
    },

    entry("diff") { st => import st._
      // copies spaced 1e9 apart: perturbedOrders rekeys %97 keys by
      // +1e8, which must stay INSIDE one copy's keyspace (1e7 spacing
      // collided — rekeyed copy c landed exactly on copy c+10); left
      // unspread, one partition per read split
      val big = staged(copies(orders, "o_orderkey", 15, 1000000000L,
        spread = false))
      timed("diff") {
        val res = diff.DataColDiff.computeDataframeDiff(
          big, queries.DiffQueries.perturbedOrders(big), Seq("o_orderkey"))
          .fold(mm => throw new IllegalArgumentException(mm.message), identity)
        val n = res.counts.diff + res.counts.noDiff + res.counts.s1Only +
          res.counts.s2Only
        res.diff.unpersist()
        n
      }
    },

    entry("semantic1m") { st => import st._
      // SemDeDup at the Σ|cell|² regime's intended scale: 1,000,000
      // synthetic vectors (murmur3-mixed, dim 16), 10% EXACT
      // duplicates (ids >= 900000 clone id - 900000), k = 4096 trained
      // cells (the FAISS-style ~4·√N multiple), NearestCentroid
      // assignment — the survivorsWithCodebook production path.
      // Asserted: the exact survivor count (every dup collapses to its
      // base, nothing else at τ=0.99), a cell-balance envelope
      // (max|cell| and Σ|cell|² within small multiples of the
      // balanced ideal N/k and N²/k), and the wall time prints for
      // the record. Σ|cell|² ≈ 2.4e8 scored pairs here vs N²/2 =
      // 5·10^11 all-pairs — the 2000× reduction IS the regime claim.
      val dupBase = 900000L
      val k = 4096
      val vecs1m = staged(vectors(1000000L, 16, dupBase))
      val kmCfg = similarity.KMeans.Config(k = k, iters = 1)
      val cents1m = similarity.KMeans.centroids(
        vecs1m, "vec_id", "embedding", kmCfg)
      timed("semantic1m") {
        val surv = dedup.SemanticDedup.survivorsWithCodebook(
          vecs1m, "vec_id", "embedding", 0.99, cents1m, kmCfg)
          .persist()
        val n = surv.count()
        require(n == dupBase,
          s"expected $dupBase survivors (dups collapse to bases), got $n")
        // cell-size envelope over the SURVIVOR assignment (same cells)
        val sizes = surv.groupBy("cell").count().collect()
          .map(_.getLong(1)).sorted
        val sumSq = sizes.map(s => s * s).sum
        val balancedSq = dupBase * (dupBase / k) // N²/k at perfect balance
        println(f"STRESS semantic1m cells=${sizes.length} " +
          f"p50=${sizes(sizes.length / 2)} " +
          f"p95=${sizes((sizes.length * 95) / 100)} max=${sizes.last} " +
          f"sumSq=$sumSq%d (${sumSq.toDouble / balancedSq}%.1fx balanced)")
        require(sizes.last <= 50L * dupBase / k,
          s"hot cell ${sizes.last} exceeds 50x the balanced N/k")
        require(sumSq <= 20L * balancedSq,
          s"sumSq $sumSq exceeds 20x the balanced N^2/k")
        surv.unpersist(blocking = false)
        n
      }
    },

    entry("gram") { st => import st._
      // the one-pass Gram/covariance aggregate at pipeline scale:
      // 100k vectors × dim 64 → 208M exploded (i, j) pair terms
      // through ONE map-side-combined aggregate whose shuffled state
      // is 2 080 groups per task regardless of N. Asserted: exactly
      // d(d+1)/2 cells, every cell saw all N rows, and the
      // shard-merge identity (two half-corpus states summed cell-wise
      // == the whole-corpus state, exact — the AggMerge-style scale
      // path past the int64 moment bound documented in GramMatrix).
      val nG = 100000L
      val dimG = 64
      val vecsG = staged(vectors(nG, dimG))
      def moments(df: DataFrame) = similarity.GramMatrix
        .upperTriangle(df, "embedding")
        .select("i", "j", "n", "sx_fp", "sy_fp", "sxy_fp")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      timed("gram") {
        val whole = moments(vecsG)
        require(whole.size == dimG * (dimG + 1) / 2,
          s"expected ${dimG * (dimG + 1) / 2} cells, got ${whole.size}")
        require(whole.values.forall(_._1 == nG),
          "a cell missed rows")
        def half(p: Int) = moments(vecsG.filter(col("vec_id") % 2 === p))
        val (a, b) = (half(0), half(1))
        whole.foreach { case (cell, (n, sx, sy, sxy)) =>
          val (na, sxa, sya, sxya) = a(cell)
          val (nb, sxb, syb, sxyb) = b(cell)
          require(na + nb == n && sxa + sxb == sx && sya + syb == sy &&
            sxya + sxyb == sxy, s"shard merge mismatch at $cell")
        }
        whole.size.toLong
      }
    },

    entry("trend") { st => import st._
      // exact-rational OLS trend over 50M rows / 1000 groups: ONE
      // map-side-combined aggregate whose shuffled state is 1000
      // moment tuples regardless of N. Asserted: every group present,
      // and the two-shard merge identity (half-corpus moment states
      // summed as BigInt == whole-corpus state — the AggMerge-style
      // scale path for corpora past a single aggregation scope).
      val nT = 50000000L
      val rowsT = staged(spark.range(0L, nT, 1L, 32).select(
        (col("id") % 1000L).cast("string").as("g"),
        (col("id") % 86400L).as("x"),
        ((col("id") % 997L).cast("double") / 9.97).as("y"),
        // block-alternating shard tag: every group has rows in both
        (expr("id div 1000") % 2L).as("shard")))
      def collectMoments(df: DataFrame) =
        operators.TrendFit.moments(df, Seq("g"), col("x"), col("y"))
          .collect()
          .map { r =>
            def big(i: Int) = BigInt(r.getDecimal(i).toBigInteger)
            r.getString(0) -> (BigInt(r.getLong(1)), BigInt(r.getLong(2)),
              BigInt(r.getLong(3)), big(4), big(5), big(6))
          }.toMap
      timed("trend") {
        val whole = collectMoments(rowsT)
        require(whole.size == 1000, s"expected 1000 groups, got ${whole.size}")
        require(whole.values.map(_._1).sum == BigInt(nT), "rows lost")
        val a = collectMoments(rowsT.filter(col("shard") === 0))
        val b = collectMoments(rowsT.filter(col("shard") === 1))
        whole.foreach { case (g, w) =>
          val x = a(g); val y = b(g)
          val merged = (x._1 + y._1, x._2 + y._2, x._3 + y._3,
            x._4 + y._4, x._5 + y._5, x._6 + y._6)
          require(merged == w, s"shard merge mismatch at group $g")
        }
        whole.size.toLong
      }
    },

    entry("mmr") { st => import st._
      // MMR greedy re-rank at serving scale: 20k queries × 20
      // candidates (the pool any ANN face emits), k=5 picks. The k−1
      // rounds join candidate-pool-sized frames only — corpus size
      // never appears. Asserted: exactly 5 dense picks per query and
      // pick 1 == the pool's pure-relevance argmax for every query.
      val nQ = 20000L
      val candsM = staged(vectors(nQ * 20L, 8).select(
        expr("vec_id div 20").as("q_id"),
        col("vec_id").as("n_id"),
        ((col("vec_id") % 1009L).cast("double") / 1009.0).as("rel"),
        col("embedding").as("v"))
        .withColumn("nrm", expr("aggregate(v, 0.0d, (s, x) -> s + x * x)")))
      timed("mmr") {
        val picks = similarity.Mmr.rerank(candsM, k = 5).persist()
        val nPicks = picks.count()
        require(nPicks == nQ * 5, s"expected ${nQ * 5} picks, got $nPicks")
        val badRanks = picks.groupBy("q_id")
          .agg(sum("pick").as("s")).filter(col("s") =!= 15L).count()
        require(badRanks == 0, "a query's picks are not dense 1..5")
        val top1 = candsM.groupBy("q_id")
          .agg(max_by(col("n_id"), struct(col("rel"), -col("n_id")))
            .as("best"))
        val wrongFirst = picks.filter(col("pick") === 1)
          .join(top1, "q_id")
          .filter(col("n_id") =!= col("best")).count()
        require(wrongFirst == 0, s"$wrongFirst queries' pick 1 != argmax rel")
        picks.unpersist()
        nPicks
      }
    },

    entry("symdel") { st => import st._
      // Deletion-neighborhood fuzzy join at roster scale: 1M clean
      // 10-hex-char keys (md5-derived — a DENSE numeric roster would
      // put every probe at distance 1 from dozens of keys; random hex
      // keeps spurious dist-1 neighbors at ~1e-4%), a probe side with
      // a hash-positioned char DELETED from half the records (the
      // other half clean), resolved blocking-free at d=1. Postings =
      // 11M variants per side keyed by variant string; verify cost ∝
      // candidate pairs. Asserted: every probe resolves (the screen
      // is lossless), and ≥ 99% of probes argmin to their own source.
      val nK = 1000000L
      val cleanS = staged(spark.range(0L, nK, 1L, 32).select(
        col("id").as("c_id"),
        substring(md5(col("id").cast("string")), 1, 10).as("c_key")))
      val dirtyS = staged(cleanS.select(
        (col("c_id") + lit(10000000L)).as("d_id"),
        when(col("c_id") % 2 === 0,
          expr("concat(substring(c_key, 1, cast(pmod(hash(c_id), 10) as int)), " +
            "substring(c_key, cast(pmod(hash(c_id), 10) as int) + 2))"))
          .otherwise(col("c_key")).as("d_key")))
      timed("symdel") {
        val resolved = operators.SymDeleteJoin.resolve(
          dirtyS, cleanS, "d_id", "d_key", "c_id", "c_key", d = 1)
          .persist()
        val n = resolved.count()
        require(n == nK, s"lossless screen: expected $nK resolved, got $n")
        val own = resolved
          .filter(col("match_id") === col("d_id") - lit(10000000L)).count()
        require(own >= (nK * 99L) / 100L,
          s"only $own of $nK probes resolved to their own source")
        resolved.unpersist()
        n
      }
    },

    entry("linkpred") { st => import st._
      // RA link prediction at graph scale: 500k nodes, 2M directed
      // edges with 100 planted hubs (~2k in-degree each — their
      // wedges alone would be ~4e8 rows). The maxDegree cap drops hub
      // CENTERS from wedge generation; remaining Σ deg² stays ~1e7.
      // Asserted: exactly topN rows, total (ra DESC, a, b) order, a
      // second run returns the identical frame (determinism under
      // re-execution).
      val nN = 500000L
      val edgesS = staged(spark.range(0L, 2000000L, 1L, 32).select(
        (col("id") % nN).as("src"),
        when(col("id") % 10 === 0, col("id") % 100L)
          .otherwise(expr(s"pmod(hash(id), ${nN}L)")).as("dst")))
      timed("linkpred") {
        def run() = similarity.LinkPredict.resourceAllocation(
          edgesS, "src", "dst", minCommon = 2, topN = 200,
          maxDegree = Some(64L))
        val top = run().persist()
        val rows = top.collect()
        require(rows.length == 200, s"expected 200 rows, got ${rows.length}")
        val key = rows.map(r => (-r.getLong(3), r.getLong(0), r.getLong(1)))
        require(key.sameElements(key.sorted), "total order violated")
        val again = run().collect()
        require(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
          "re-execution returned a different frame")
        top.unpersist()
        rows.length.toLong
      }
    },

    entry("binquant1m") { st => import st._
      // Binary SimHash search at corpus scale: 1,000,000 vectors
      // (dim 64; ids >= 900000 are EXACT duplicates of id - 900000),
      // 128-bit fingerprints, Hamming screen to 512 candidates, exact
      // re-rank to k = 10. The screen is 1M × 8 unrolled bit_count
      // folds over 4-long codes — the 8×-cheaper-than-floats scan the
      // operator exists for. Asserted: every query (a planted
      // duplicate) ranks its base vector first (hamming 0, cosine ≈ 1
      // — the screen provably cannot lose a hamming-0 twin), all k
      // slots fill, no self matches, and a second run returns the
      // identical frame.
      val dupBaseB = 900000L
      val dimB = 64
      val vecsB = staged(vectors(1000000L, dimB, dupBaseB))
      timed("binquant1m") {
        def run() = similarity.BinaryQuant.topKReranked(vecsB,
          "vec_id", "embedding",
          q => q >= dupBaseB && q < dupBaseB + 8L,
          dim = dimB, bits = 128, candidates = 512, k = 10)
        val top = run().persist()
        val rows = top.orderBy("q_id", "rank").collect()
        require(rows.length == 80, s"expected 80 rows, got ${rows.length}")
        rows.filter(_.getInt(1) == 1).foreach { r =>
          require(r.getLong(2) == r.getLong(0) - dupBaseB,
            s"query ${r.getLong(0)} rank-1 is ${r.getLong(2)}, " +
              s"expected its base ${r.getLong(0) - dupBaseB}")
          require(r.getLong(3) == 0L, "twin must sit at hamming 0")
          require(r.getDouble(4) > 0.999999, "twin cosine must be ~1")
        }
        require(rows.forall(r => r.getLong(2) != r.getLong(0)),
          "self match leaked")
        val again = run().orderBy("q_id", "rank").collect()
        require(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
          "re-execution returned a different frame")
        top.unpersist()
        rows.length.toLong
      }
    },

    entry("hardmine1m") { st => import st._
      // Batch-hard triplet mining at corpus scale: 1,000,000 labeled
      // vectors (dim 64), 8 anchors, ONE broadcast scan + ONE
      // conditional min/max(struct) aggregate — no window over the
      // anchor×corpus stream. Ids >= 900000 duplicate id − 900000 with
      // a DIFFERENT label (label = (id + id div 900000) % 100), so
      // each anchor's hardest negative MUST be its cross-label twin at
      // cosine ≈ 1 and every anchor violates any positive margin.
      // Asserted: exactly 8 rows, twin negatives, violation flags, and
      // a second run returns the identical frame.
      val dupBaseH = 900000L
      val vecsH = staged(vectors(1000000L, 64, dupBaseH).withColumn("label",
        ((col("vec_id") + expr(s"vec_id div ${dupBaseH}L")) % 100L)
          .cast("int")))
      timed("hardmine1m") {
        def run() = similarity.HardMining.hardestTriplets(vecsH,
          "vec_id", "embedding", "label",
          q => q >= dupBaseH && q < dupBaseH + 8L, margin = 0.05)
        val top = run().persist()
        val rows = top.orderBy("q_id").collect()
        require(rows.length == 8, s"expected 8 anchors, got ${rows.length}")
        rows.foreach { r =>
          require(r.getLong(4) == r.getLong(0) - dupBaseH,
            s"anchor ${r.getLong(0)}: hardest negative ${r.getLong(4)} " +
              s"is not its cross-label twin ${r.getLong(0) - dupBaseH}")
          require(r.getDouble(5) > 0.999999, "twin cosine must be ~1")
          require(r.getBoolean(6), "twin at cos 1 must violate the margin")
        }
        val again = run().orderBy("q_id").collect()
        require(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
          "re-execution returned a different frame")
        top.unpersist()
        rows.length.toLong
      }
    },

    entry("bpe") { st => import st._
      // 500k docs, 10k-word vocabulary, 16 merge rounds — the
      // vocabulary-sized-iteration claim under a 40× larger training
      // table than the gated query's. Clone-invariance is the
      // correctness stress (the kmeans pattern): uniform 10× counts
      // cannot change any round's argmax, so the rules learned from
      // the cloned corpus must equal the base corpus's exactly, with
      // pair_count scaled 10×.
      val base = staged(loadSpread("documents"))
      val baseRules = text.BpeTrain.merges(base, "text", 16, 10000).collect()
      val corpus = staged(corpus10x)
      timed("bpe") {
        val rules = text.BpeTrain.merges(corpus, "text", 16, 10000).collect()
        require(rules.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .sameElements(baseRules.map(r =>
            (r.getLong(0), r.getString(1), r.getString(2)))),
          "10x-cloned corpus learned different merges")
        require(rules.map(_.getLong(3))
          .sameElements(baseRules.map(_.getLong(3) * 10)),
          "pair counts must scale exactly 10x")
        rules.length.toLong
      }
    },

    entry("outliersbig") { st => import st._
      // ONE 5M-row group: both forms run and must agree bit-for-bit.
      // At this size the group still sorts in one task's memory, so
      // the windowed form WINS on wall-clock (see the operator's
      // regime-boundary note) — what this case proves is the
      // equivalence and that spread's per-task work stays bounded;
      // its regime is the group that spills/OOMs a single task.
      val df = staged(spark.range(5000000L).select(lit("g").as("grp"),
        when(pmod(col("id"), lit(997L)) === 0L, lit(1e6)).otherwise(
          pmod(col("id") * 40503L, lit(1009L)).cast("double")).as("v"))
        .repartition(32))
      var spread: Array[org.apache.spark.sql.Row] = null
      timed("outliersbig-sp") {
        spread = operators.RobustOutliers
          .summarySpread(df, "grp", "v", nSub = 64).collect()
        spread.head.getLong(4)
      }
      timed("outliersbig-win") {
        val win = operators.RobustOutliers.summary(df, "grp", "v").collect()
        require(win.toSeq == spread.toSeq,
          s"spread diverged: ${spread.toSeq} vs ${win.toSeq}")
        win.head.getLong(4)
      }
    },

    entry("equidepth") { st => import st._
      // 10M skewed doubles (quadratic pile-up toward 0) into 100 exact
      // quantile buckets: counts must differ by ≤ 1, ranges must be
      // non-overlapping and ordered — the full correctness contract,
      // asserted without any driver-side sort of the data
      val vals = staged(spark.range(10000000L).select(col("id"),
        (col("id").cast("double") * col("id").cast("double")).as("v"))
        .repartition(32))
      timed("equidepth") {
        val h = operators.EquiDepth.histogram(vals, "v", "id", k = 100)
          .orderBy("bucket").collect()
        require(h.length == 100, s"expected 100 buckets, got ${h.length}")
        val ns = h.map(_.getLong(1))
        require(ns.sum == 10000000L && ns.max - ns.min <= 1,
          s"bucket sizes unbalanced: min=${ns.min} max=${ns.max}")
        h.sliding(2).foreach { case Array(a, b) =>
          require(a.getDouble(3) <= b.getDouble(2),
            s"overlapping ranges at bucket ${b.getLong(0)}")
        }
        h.length.toLong
      }
    },

    entry("pagerank") { st => import st._
      // 5M-edge pseudo-random graph over 500k nodes, 5 rounds — the
      // operator's shape claim under load: the edge side is shuffled
      // and sorted ONCE (persisted pre-partitioned), each round pays
      // only the small rank-frame shuffle + dst aggregate. Mass
      // conservation bounds the result: every rank ≥ the teleport
      // base, total ≤ S (leaks are floor remainders + dangling mass).
      val edges = staged(spark.range(5000000L).select(
          pmod(col("id") * 2654435761L, lit(500000L)).as("src"),
          pmod(col("id") * 40503L + 17L, lit(500000L)).as("dst"),
          (pmod(col("id"), lit(3L)) + 1L).as("w"))
        .filter(col("src") =!= col("dst"))
        .repartition(32))
      timed("pagerank") {
        val r = operators.PageRank.ranks(edges, "src", "dst", "w", 5)
        val s = r.agg(sum(col("rank_fp")), min(col("rank_fp")),
          count(lit(1))).head()
        val n = s.getLong(2)
        val base = 3L * operators.PageRank.Scale / (20L * n)
        require(s.getLong(1) >= base, "a node fell below teleport base")
        require(s.getLong(0) <= operators.PageRank.Scale,
          "mass exceeded the simplex bound")
        n
      }
    },

    entry("order") { st => import st._
      // 10M docs through the two-level scan (nSub=1024 → ~3k buckets
      // across 3 stages; the single-partition window sees only those).
      // Permutation validity asserted globally: positions are exactly
      // [0, N) iff count, min, max, and distinct-count all agree.
      val docs = staged(spark.range(10000000L)
        .select(col("id"), (col("id") % 3).cast("int").as("band"))
        .repartition(32))
      timed("order") {
        val pos = operators.CorpusOrder.orderPlan(docs, "id", col("band"))
        val r = pos.agg(count(lit(1)), min(col("pos")), max(col("pos")),
          count_distinct(col("pos"))).head()
        require(r.getLong(0) == 10000000L && r.getLong(1) == 0L &&
          r.getLong(2) == 9999999L && r.getLong(3) == 10000000L,
          s"positions are not a permutation of [0, 10M): $r")
        r.getLong(0)
      }
    },

    entry("profilediff") { st => import st._
      // profile screen over two 10×-orders 12-col snapshots (1.5M rows
      // at sf0.1, 6 derived columns) — the thing it must beat is the
      // row diff's full-outer over the same pair
      // widen AFTER the drift so the derived columns drift with their
      // source (each side is an independently-derived snapshot — the
      // production shape, where a snapshot is materialized end to end)
      def widen(df: DataFrame) = df.select((col("*") +:
        (0 until 6).map(j => (col("o_totalprice") * (j + 2))
          .as(s"derived_$j"))): _*)
      val narrow = copies(orders, "o_orderkey", 10, 1000000000L)
      val base = staged(widen(narrow))
      val drifted = staged(widen(narrow.withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))))
      timed("profilediff") {
        val flags = operators.ProfileDiff.compare(base, drifted)
          .groupBy(col("flag")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        // o_totalprice and its 6 derivations drifted; the other 5 did not
        require(flags.getOrElse("DRIFT", 0L) == 7L &&
          flags.getOrElse("NODIFF", 0L) == 5L, s"unexpected flags: $flags")
        flags.values.sum
      }
    },

    entry("outliers") { st => import st._
      // 5M values over 5k groups (groups ≫ cores — the regime the
      // operator documents); ~0.1% planted spikes must all be caught
      // and nothing else (uniform base values stay within 3·MAD).
      // Modulus 1009 is deliberate: within a group (id ≡ g mod 5000)
      // ids step by 5000, and 5000·40503 ≡ 0 (mod 1000) — a 1000
      // modulus would make v CONSTANT per group and mad degenerate;
      // mod the prime 1009 the step is 628, cycling all residues.
      timed("outliers") {
        val df = spark.range(5000000L).select(
          (col("id") % 5000).cast("string").as("g"),
          when(pmod(col("id"), lit(997L)) === 0L, lit(1e6)).otherwise(
            pmod(col("id") * 40503L, lit(1009L)).cast("double")).as("v"))
        val out = operators.RobustOutliers.summary(df, "g", "v")
        val r = out.agg(sum(col("n_out")), min(col("mad"))).head()
        val planted = 5016L // |{id < 5M : id ≡ 0 (mod 997)}|
        require(r.getLong(0) == planted,
          s"expected exactly $planted planted spikes, got ${r.getLong(0)}")
        require(r.getDouble(1) > 0.0, "mad collapsed to zero")
        out.count()
      }
    },

    entry("kmeans") { st => import st._
      // 50 identical re-keyed copies of every sf embedding (100k × 64-dim
      // at sf0.1). Two invariants make this a distributed-correctness
      // stress, not just a timing: clones of one vector always land in
      // one cluster (assignment is a pure function of the vector), and
      // the TRAINED CENTROIDS must be bit-identical to training on the
      // base corpus alone — every membership set scales ×50, so every
      // integer sum and count scales ×50 and the means cancel exactly.
      // The clones are NOT staged: the timing includes the blow-up, as
      // the SURVEY figure does.
      val base = loadSpread("embeddings")
      val cloned = copies(base.select("vec_id", "embedding"), "vec_id", 50)
      val baseCents = similarity.KMeans
        .centroids(base, "vec_id", "embedding")
      timed("kmeans") {
        val cents = similarity.KMeans
          .centroids(cloned, "vec_id", "embedding")
        require(cents.map(_.cid) == baseCents.map(_.cid) &&
          cents.zip(baseCents).forall { case (a, b) =>
            a.cv.sameElements(b.cv) },
          "clone-scaled centroids diverged from base-corpus centroids")
        val asg = similarity.KMeans.fit(cloned, "vec_id", "embedding")
        val n = asg.count()
        // every clone family in exactly one cluster
        val split = asg
          .groupBy(pmod(col("vec_id"), lit(1000000L)))
          .agg(countDistinct(col("cluster")).as("nc"))
          .filter(col("nc") > 1).count()
        require(split == 0L, s"$split clone families split across clusters")
        n
      }
    },

    entry("kmeans4096") { st => import st._
      // the √N-cell regime the codebook-argmin expression opens
      // (NearestCentroid — constant plan/codegen size in k): train
      // k=4096 over 100k vectors (seeds = the 4096 smallest ids, which
      // include exact clones — duplicate seeds exercise the
      // tie-toward-smaller-cid and empty-cluster-drop policies at
      // scale) and label the whole corpus with the frozen codebook.
      // The 4096×64 codebook is ~2 MB of task-binary payload; under
      // the old literal-subtree argmin this plan was unbuildable.
      val cloned = staged(copies(loadSpread("embeddings")
        .select("vec_id", "embedding"), "vec_id", 50))
      timed("kmeans4096") {
        val cfg = similarity.KMeans.Config(k = 4096, iters = 2)
        val cents = similarity.KMeans
          .centroids(cloned, "vec_id", "embedding", cfg)
        require(cents.nonEmpty && cents.sizeIs <= 4096,
          s"trained ${cents.size} centroids from a k=4096 config")
        val labeled = similarity.KMeans
          .label(cloned, "vec_id", "embedding", cents, cfg)
        val validCids = cents.map(_.cid).toSet
        val n = labeled.count()
        require(n == cloned.count(), "labeling dropped vectors")
        val bad = labeled.filter(!col("cluster")
          .isin(validCids.toSeq.map(Long.box): _*)).count()
        require(bad == 0L, s"$bad vectors labeled with unknown cids")
        n
      }
    },

    entry("bm25") { st => import st._
      // keyword retrieval over the 10× corpus (~500k docs at sf0.1):
      // the inverted-index aggregate is the postings-scale stage; the
      // query-term join stays broadcast and the top-k WindowGroupLimit
      // ships ~k rows per task. Clones multiply every tf/df/dl by 10
      // but leave avgdl and the RANKING structure intact — each query
      // fills its k from the clone families.
      val corpus = staged(corpus10x)
      timed("bm25") {
        val out = text.Bm25.topDocs(corpus, "doc_id", "text",
          text.Bm25.rankedQueryTerms(corpus, "doc_id", "text", 21, 8), 10)
        val n = out.count()
        require(n > 0 && n <= 80, s"expected <=80 result rows, got $n")
        n
      }
    },

    entry("ivfserve") { st => import st._
      // the persisted-index serving loop at scale: build a 64-cell
      // residual IVFADC index over 100k vectors (train + code + write
      // cell-partitioned), then serve a 100-query batch from the
      // catalog table — the serve pays ZERO training jobs and scans
      // only its probed cells (nProbe/cells = 1/16 of the corpus)
      val cloned = staged(copies(loadSpread("embeddings")
        .select("vec_id", "embedding"), "vec_id", 20))
      val cfg = similarity.IvfPq.Config(cells = 64, nProbe = 4,
        residual = true)
      try {
        var model: similarity.IvfPq.Model = null
        timed("ivfbuild") {
          model = similarity.IvfPq.writeIndex(cloned, "vec_id", "embedding",
            64, "stress_ivf_idx", cfg)
          spark.table("stress_ivf_idx").count()
        }
        def serveOnce(): Long = {
          val served = similarity.IvfPq.topKIndexed(spark, "stress_ivf_idx",
            cloned.filter(col("vec_id") < 100), "vec_id", "embedding",
            64, 10, cfg, Some(model))
          val n = served.count()
          require(n == 100L * 10L, s"expected 1000 result rows, got $n")
          n
        }
        timed("ivfserve")(serveOnce())
        // second serve = the recurring cost (the first pays plan codegen
        // + JIT for the fresh 64-cell argmin/LUT classes)
        timed("ivfserve2")(serveOnce())
      } finally {
        spark.sql("DROP TABLE IF EXISTS stress_ivf_idx")
        spark.sql("DROP TABLE IF EXISTS stress_ivf_idx_model")
      }
    },

    entry("cms") { st => import st._
      // bounded-state claim at 10× corpus: ~3.5M token occurrences
      // explode ×depth yet aggregate to ≤ depth×width cells — the
      // shuffle carries bounded state per partition regardless of
      // stream size; the probe pass estimates EVERY distinct token
      // against the broadcast cell table
      val toks = staged(corpus10x.select(
        explode(graft.text.TokenCount.tokens(col("text"))).as("token")))
      val cfg = operators.CountMin.Config()
      timed("cms") {
        val cells = operators.CountMin.cells(toks, "token", cfg).persist()
        val nc = cells.count()
        require(nc <= cfg.depth.toLong * cfg.width,
          s"cell table exceeded its bound: $nc")
        operators.CountMin
          .estimates(cells, toks.distinct(), "token", cfg).count()
      }
    },

    entry("knngraph") { st => import st._
      // the all-sources graph at 100k vectors (50× cloned corpus —
      // every vector carries 49 exact clones, so cells are dense and
      // cosine TIES are everywhere, exercising the (cos DESC, n_id)
      // total order): build the cell-local graph, then one seeded
      // NN-descent round (which rebuilds the base graph internally —
      // the honest end-to-end cost of graph + repair)
      val base = loadSpread("embeddings")
      val cloned = staged(copies(base.select("vec_id", "embedding"),
        "vec_id", 50))
      timed("knngraph") {
        val g = similarity.KnnGraph.build(cloned, "vec_id", "embedding", 5)
        val bad = g.groupBy("src_id")
          .agg(count(lit(1)).as("d"), max("rank").as("mr"))
          .filter(col("d") > 5 || col("mr") =!= col("d")).count()
        require(bad == 0L, s"$bad sources with degree > k or rank gaps")
        g.count()
      }
      timed("nndescent") {
        similarity.NnDescent
          .refine(cloned, "vec_id", "embedding", 5, seedBuckets = 4096)
          .count()
      }
      // the TRAINED-codebook path (the real scale config): the stride
      // quantizer's centroid count grows as N/31 here, so assignment
      // is quadratic-ish (N²/31 pair scores); a √N-cell codebook keeps
      // it N^1.5 with the NearestCentroid flat-loop argmin
      val trainedCents = {
        val cfg = similarity.KMeans.Config(k = 316, iters = 1)
        similarity.IVFIndex.fromKMeans(cloned, similarity.KMeans
          .centroids(cloned, "vec_id", "embedding", cfg))
          .persist()
      }
      var standing: DataFrame = null
      timed("knngtrained") {
        standing = similarity.KnnGraph.buildWithCentroids(cloned, "vec_id",
            "embedding", 5, trainedCents)
          .persist()
        standing.count()
      }
      // incremental maintenance: a 2k-vector batch folds into the
      // 100k-vector standing graph — the merge must cost a small
      // fraction of the build (|batch|-proportional pairs; the corpus
      // pair fanout is never re-paid)
      val batch = staged(base.limit(1000)
        .select((col("vec_id") + 777000000L).as("vec_id"),
          col("embedding")))
      timed("knngingest") {
        val merged = similarity.GraphIngest.merged(cloned, batch, standing,
          "vec_id", "embedding", 5, trainedCents)
        val n = merged.count()
        require(n >= standing.count(), "merge lost sources")
        n
      }
    },

    entry("simquant") { st => import st._
      // same 50× cloned corpus: each query's identical clones sit at
      // quantized distance 0, so the screen's floor is exercised (49
      // zero-distance candidates per query) while 100k vectors stream
      // through the int8 codes
      val cloned = staged(copies(loadSpread("embeddings")
        .select("vec_id", "embedding"), "vec_id", 50))
      timed("simquant") {
        val out = similarity.ScalarQuant.topK(cloned, "vec_id", "embedding",
          _ < 8, 10).collect()
        require(out.length == 80, s"expected 80 rows, got ${out.length}")
        require(out.forall(_.getLong(4) == 0L),
          "a non-clone outranked a zero-distance clone in the screen")
        out.length.toLong
      }
    },

    entry("linkage") { st => import st._
      // 20× cloned reference roster (300k rows at sf0.1): blocks grow
      // 20-fold (~2,400 rows each), candidate volume ~36M scored pairs —
      // the blocking join's real load. Clone names carry a "-NN" suffix
      // (distance ≥ 2 from every copy-0 name; the copy index is
      // c_custkey div 10^7), so each dirtied record's argmin must still
      // be its exact copy-0 source.
      val cust = load("customer")
      val reference = staged(copies(cust.select("c_custkey", "c_name",
          "c_nationkey", "c_mktsegment"), "c_custkey", 20, 10000000L)
        .withColumn("c_name", when(col("c_custkey") < 10000000L,
            col("c_name"))
          .otherwise(concat(col("c_name"), lit("-"),
            expr("c_custkey div 10000000").cast("string")))))
      val dirty = staged(
        queries.Relational.dirtyCustomers(cust).repartition(32))
      val nDirty = dirty.count()
      timed("linkage") {
        val out = operators.RecordLinkage.resolve(dirty, reference,
          Seq("c_nationkey", "c_mktsegment"), "d_id", "d_name",
          "c_custkey", "c_name")
        val bad = out.filter(col("match_id") =!= col("d_id") - 10000000L)
          .count()
        require(bad == 0L, s"$bad records matched an impostor")
        val n = out.count()
        require(n == nDirty, s"expected $nDirty resolved, got $n")
        n
      }
    },

    entry("ntile") { st => import st._
      // grouped n-tile on the real-corpus skew: one group carries 90%
      // of 2M rows — the shape where ntile() OVER (PARTITION BY g)
      // funnels the majority group through one reducer; GroupedNtile's
      // range-exchange rank must stay data-parallel. Exactness checked
      // by the per-group bucket-size spread invariant.
      val rows = staged(spark.range(2000000L).select(
          when(col("id") % 10 < 9, lit("en"))
            .otherwise(concat(lit("l"), (col("id") % 10).cast("string")))
            .as("grp"),
          graft.text.TextFeatures.hash32(col("id").cast("string")).as("s"),
          col("id"))
        .repartition(32))
      timed("ntile") {
        val sizes = operators.GroupedNtile
          .bucketPlan(rows, "grp", Seq(col("s")), "id", 3)
          .groupBy("grp", "bucket").count()
          .groupBy("grp").agg((max("count") - min("count")).as("spread"),
            sum("count").as("n"))
          .collect()
        sizes.foreach(r => require(r.getLong(1) <= 1,
          s"bucket spread ${r.getLong(1)} in group ${r.getString(0)}"))
        sizes.map(_.getLong(2)).sum
      }
    },

    entry("novelty") { st => import st._
      // first-occurrence scoring where EVERY shingle has df >= 10 (the
      // ten-clone corpus): the min-owner aggregate must stay one
      // map-side-combinable pass — cost tracks postings, not df². The
      // nine later clones of each doc must score exactly zero novelty.
      val corpus = staged(corpus10x)
      timed("novelty") {
        val out = graft.text.Novelty
          .noveltyPlan(corpus, "doc_id", "text").persist()
        val clonesWithNew = out
          .filter(col("doc_id") >= 1000000L && col("n_new") > 0).count()
        require(clonesWithNew == 0L,
          s"$clonesWithNew later clones claimed novel content")
        out.count()
      }
    },

    entry("hotband") { st => import st._
      // THE band-join skew case: 10% of the corpus shares a long
      // boilerplate prefix that dominates every minhash coordinate, so
      // without intervention ALL of them land in ONE band bucket per
      // band and the self-join goes quadratic in the hot-bucket size.
      // This is the case the df cap exists for (site chrome shared by
      // a large doc fraction); the stress (a) demonstrates the
      // quadratic candidate regime on a small corpus, (b) proves the
      // cap restores ~linear candidate volume at 10× that size while
      // STILL recovering every planted twin pair (twins share unique
      // tails — their post-cap shingle sets are identical, J = 1), and
      // (c) pins the documented recall trade: pairs supported ONLY by
      // capped boilerplate are missed by construction.
      val boiler = (1 to 40).map(i => s"boilerplate$i").mkString(" ")
      def corpus(n: Long): DataFrame = {
        val id = col("id")
        // twin tails: ids ≡ 0 and ≡ 10 (mod 200) share a tail seed
        val seed = when(id % 200 === 10, id - 10).otherwise(id)
        val tail = concat_ws(" ", transform(sequence(lit(0), lit(11)),
          i => substring(md5(concat(seed.cast("string"), lit(":"),
            i.cast("string"))), 1, 8)))
        spark.range(n).select(id.as("doc_id"),
          when(id % 10 === 0, concat(lit(boiler), lit(" "), tail))
            .otherwise(tail).as("text"))
      }
      val cfgCap = dedup.MinHashLSH.Config(maxShingleDocFreq = Some(1000L))
      // raw band-join candidate rows (doc pairs sharing a band bucket)
      def bandPairs(docs: DataFrame, cfg: dedup.MinHashLSH.Config) = {
        val b = dedup.MinHashLSH.bands(dedup.MinHashLSH
          .docShingles(docs, "doc_id", "text", cfg).persist(), cfg)
        dedup.MinHashLSH.bandPairs(b, b, ordered = true)
      }

      // (a) small corpus, NO cap: the hot bucket is quadratic — count
      // raw band-join candidates (500 boiler docs → ≈ 500²·6 rows)
      val small = staged(corpus(5000))
      timed("hotband-raw") {
        val cand = bandPairs(small, dedup.MinHashLSH.Config()).count()
        require(cand > 500L * 499L / 2,
          s"expected a quadratic hot bucket, saw $cand candidates")
        cand
      }

      // (b) 10× corpus WITH the cap: candidates collapse to the twin
      // collisions (~linear), and every planted twin still verifies
      val big = staged(corpus(50000))
      timed("hotband-cap") {
        val cand = bandPairs(big, cfgCap).distinct().count()
        require(cand < 20L * 50000L,
          s"cap failed to linearize the hot bucket: $cand candidates")
        val pairs = dedup.MinHashLSH
          .nearDuplicatePairs(big, "doc_id", "text", cfgCap)
          .filter(col("doc_b") === col("doc_a") + 10 &&
            col("doc_a") % 200 === 0).count()
        require(pairs == 250L, s"expected all 250 planted twins, got $pairs")
        cand
      }
    },

    entry("coldcatalog") { st => import st._
      // the production-restart round-trip: write EVERY persisted index
      // family (bm25, binary-simhash, IVFADC, symdelete, embedding
      // buckets, dedup bands) to the catalog, drop all in-memory state
      // (clearCache + a FRESH SparkSession — no cached frames, no temp
      // state; the shared external catalog is what a metastore-backed
      // restart reopens), and serve a query batch from each purely off
      // the tables. Asserted: cold-session results ≡ the same request
      // served before the restart (and, where the family API takes an
      // external query frame, ≡ the INLINE no-index path). Each index
      // already round-trips in its own spec; this entry proves all six
      // survive the SAME restart in one catalog.
      val docs = staged(loadSpread("documents").select("doc_id", "text"))
      val vecs = staged(loadSpread("embeddings").select("vec_id", "embedding"))
      def snap(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq

      // query batches (all deterministic, all external frames)
      val bm25Terms = {
        import spark.implicits._
        Seq((0L, "table"), (0L, "query"), (1L, "spark"), (1L, "value"),
          (1L, "join")).toDF("q_id", "term")
      }
      val vecBatch = vecs.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val vocab = docs
        .select(explode(graft.text.TextFeatures.words(col("text"))).as("w"))
        .filter(length(col("w")) >= 4).distinct()
        .withColumn("rid", col("w"))
      val probes = vocab.filter(col("w").rlike("^[a-z]{5,}$")).limit(100)
        .select(col("w").as("lid"), expr("substring(w, 2)").as("ltxt"))
      val dedupBatch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))

      // a previous aborted run may have left orphan warehouse dirs the
      // fresh in-memory catalog no longer knows about — clear them
      Option(new java.io.File("spark-warehouse").listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("cold_"))
        .foreach(FileUtils.deleteDirectory)
      timed("coldwrite") {
        graft.text.Bm25.writeIndex(docs, "doc_id", "text", "cold_bm25")
        similarity.BinaryQuant.writeIndex(vecs, "vec_id", "embedding",
          dim = 64, bits = 128, table = "cold_bq")
        similarity.IvfPq.writeIndex(vecs, "vec_id", "embedding", 64,
          "cold_ivfpq")
        operators.SymDeleteJoin.writeIndex(vocab, "rid", "w", d = 1,
          table = "cold_symdel")
        dedup.EmbeddingNearDup.writeIndex(vecs, "vec_id", "embedding",
          "cold_embed")
        dedup.IncrementalDedup.writeIndex(
          dedup.IncrementalDedup.buildIndex(docs, "doc_id", "text"),
          "cold_dedup")
        spark.catalog.clearCache()
        6L
      }

      // warm serves (+ inline paths where the API takes external
      // queries) — the reference answers, collected BEFORE the restart
      val warmBm25 = snap(graft.text.Bm25.topDocsIndexed(
        spark, "cold_bm25", bm25Terms, k = 10))
      val inlineBm25 = snap(graft.text.Bm25.topDocs(
        docs, "doc_id", "text", bm25Terms, k = 10))
      val warmBq = snap(similarity.BinaryQuant.topKIndexed(spark, "cold_bq",
        vecBatch, "vec_id", "embedding", 64, 128, candidates = 256, k = 10))
      val warmIvf = snap(similarity.IvfPq.topKIndexed(spark, "cold_ivfpq",
        vecBatch, "vec_id", "embedding", 64, k = 10))
      val warmSym = snap(operators.SymDeleteJoin.resolveIndexed(
        spark, "cold_symdel", probes, "lid", "ltxt", d = 1))
      val inlineSym = snap(operators.SymDeleteJoin.resolve(
        probes, vocab, "lid", "ltxt", "rid", "w", d = 1))
      val warmEmb = snap(dedup.EmbeddingNearDup.incrementalPairsIndexed(
        spark, "cold_embed", vecBatch, "vec_id", "embedding", 0.9))
      val inlineEmb = snap(dedup.EmbeddingNearDup.incrementalPairs(
        vecs, vecBatch, "vec_id", "embedding", 0.9))
      val warmDedup = snap(dedup.IncrementalDedup.verdicts(
        dedup.IncrementalDedup.readIndex(spark, "cold_dedup"),
        dedupBatch, "doc_id", "text", dedup.MinHashLSH.Config()))
      val inlineDedup = snap(dedup.IncrementalDedup.verdicts(
        docs, dedupBatch, "doc_id", "text"))
      require(warmBm25 == inlineBm25, "bm25 indexed != inline")
      require(warmSym == inlineSym, "symdel indexed != inline")
      require(warmEmb == inlineEmb, "embed indexed != inline")
      require(warmDedup == inlineDedup, "dedup indexed != inline")

      // THE RESTART: fresh session, zero cached state
      spark.catalog.clearCache()
      val cold = spark.newSession()
      timed("coldcatalog") {
        val coldBm25 = snap(graft.text.Bm25.topDocsIndexed(
          cold, "cold_bm25", bm25Terms, k = 10))
        val coldBq = snap(similarity.BinaryQuant.topKIndexed(cold, "cold_bq",
          vecBatch, "vec_id", "embedding", 64, 128, candidates = 256, k = 10))
        val coldIvf = snap(similarity.IvfPq.topKIndexed(cold, "cold_ivfpq",
          vecBatch, "vec_id", "embedding", 64, k = 10))
        val coldSym = snap(operators.SymDeleteJoin.resolveIndexed(
          cold, "cold_symdel", probes, "lid", "ltxt", d = 1))
        val coldEmb = snap(dedup.EmbeddingNearDup.incrementalPairsIndexed(
          cold, "cold_embed", vecBatch, "vec_id", "embedding", 0.9))
        val coldDedup = snap(dedup.IncrementalDedup.verdicts(
          dedup.IncrementalDedup.readIndex(cold, "cold_dedup"),
          dedupBatch, "doc_id", "text", dedup.MinHashLSH.Config()))
        require(coldBm25 == warmBm25, "bm25 cold != warm")
        require(coldBq == warmBq, "binquant cold != warm")
        require(coldIvf == warmIvf, "ivfpq cold != warm")
        require(coldSym == warmSym, "symdel cold != warm")
        require(coldEmb == warmEmb, "embed cold != warm")
        require(coldDedup == warmDedup, "dedup cold != warm")
        (coldBm25.size + coldBq.size + coldIvf.size + coldSym.size +
          coldEmb.size + coldDedup.size).toLong
      }
    },

    entry("cowtable") { st => import st._
      // the table-format write-amplification claim, measured: on a
      // 200-file / 2.25M-row key-clustered CowTable, a key-CLUSTERED
      // merge (one file's key range) must rewrite only that file —
      // zone maps prune the rest before any scan — while a SCATTERED
      // merge (keys spread over every file) pays the full-table
      // rewrite. The gap IS the format's value at scale; both results
      // are content-asserted.
      import tables.{CowTable, TxLog}
      val t = s"$scratch/t"
      val orders3 = load("orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val big = staged((0 until 15).map(i => orders3.select(
          (col("o_orderkey") + lit(i * 10000000L)).as("k"),
          col("o_custkey").as("c"), col("o_totalprice").as("p")))
        .reduce(_ unionByName _))
      val nRows = big.count()
      // the rows of `big` matching `pred`, price raised by `d`
      def bumped(pred: org.apache.spark.sql.Column, d: Double) =
        big.filter(pred).select(col("k"), col("c"), (col("p") + d).as("p"))

      timed("cowcreate") {
        CowTable.create(spark, t, big.repartitionByRange(200, col("k")),
          Seq("k"))
        nRows
      }
      timed("cowclustered") {
        // ~1 file's worth of keys: the first copy's low range.
        val m = CowTable.merge(spark, t, bumped(col("k") < 12000, 1.0d),
          Seq("k"), checkUniqueKeys = false)
        require(m.touchedFiles <= 4,
          s"clustered merge touched ${m.touchedFiles} files")
        require(m.prunedFiles >= 190,
          s"zone maps pruned only ${m.prunedFiles}")
        m.addedRows
      }
      timed("cowrename") {
        // RENAME COLUMN on the 200-file / 2.25M-row table: one
        // metadata commit, zero files moved, and a key-clustered
        // merge under the NEW name still prunes off the zone maps
        val filesBefore = TxLog.snapshot(spark, t).files.map(_.path).toSet
        val renameMs =
          Runner.seconds(CowTable.renameColumn(spark, t, "k", "key_id")) * 1e3
        println(f"STRESS cowrename commit: $renameMs%.0f ms (200 files)")
        require(TxLog.snapshot(spark, t).files.map(_.path).toSet
          == filesBefore, "rename moved files")
        val m = CowTable.merge(spark, t,
          big.filter(col("k") < 12000).select(col("k").as("key_id"),
            col("c"), (col("p") + 5.0d).as("p")),
          Seq("key_id"), checkUniqueKeys = false)
        require(m.prunedFiles >= 190,
          s"post-rename zone maps pruned only ${m.prunedFiles}")
        CowTable.renameColumn(spark, t, "key_id", "k")
        nRows
      }
      timed("cowscattered") {
        // keys ≡ 3 (mod 1000) across the WHOLE range: bounds prune
        // nothing and nearly every file holds a match.
        val m = CowTable.merge(spark, t, bumped(col("k") % 1000 === 3, 2.0d),
          Seq("k"),
          checkUniqueKeys = false)
        require(m.touchedFiles >= 150,
          s"scattered merge touched only ${m.touchedFiles} files")
        m.addedRows
      }
      timed("cowverify") {
        val got = CowTable.read(spark, t)
          .agg(count(lit(1)), sum(when(col("k") % 1000 === 3, 1L)
            .otherwise(0L))).collect()(0)
        require(got.getLong(0) == nRows, s"row drift: ${got.getLong(0)}")
        val deleted = CowTable.vacuum(spark, t, retainVersions = 1, retentionMs = 0L)
        require(deleted.nonEmpty, "vacuum reclaimed nothing")
        got.getLong(0)
      }
      // the labels below rebuild `big` from the orders scan, so their
      // SURVEY figures stay comparable
      spark.catalog.clearCache()
      // Hive-partitioned face at the same scale: 15 date-like
      // partitions × 2.25M rows; a single-partition-keyed merge must
      // prune every other partition from the manifest and leave their
      // files untouched on disk.
      val tp = s"$scratch/tp"
      timed("cowpartwrite") {
        CowTable.create(spark, tp,
          big.withColumn("day", col("k") % 15), Seq("k"),
          partitionBy = Seq("day"))
        nRows
      }
      timed("cowpartmerge") {
        val before = TxLog.snapshot(spark, tp).files
          .filterNot(_.path.contains("/day=7/")).map(_.path).toSet
        val upd = big.filter(col("k") % 15 === 7 && col("k") < 1000000)
          .select(col("k"), col("c"), (col("p") + 3.0d).as("p"),
            (col("k") % 15).as("day"))
        val total = before.size + TxLog.snapshot(spark, tp)
          .files.count(_.path.contains("/day=7/"))
        val m = CowTable.merge(spark, tp, upd, Seq("day", "k"),
          checkUniqueKeys = false)
        require(m.prunedFiles > 0 && m.candidateFiles < total,
          s"partition pruning failed: $m of $total files")
        val after = TxLog.snapshot(spark, tp).files
          .filterNot(_.path.contains("/day=7/")).map(_.path).toSet
        require(after == before,
          "files outside the merged partition moved")
        require(CowTable.read(spark, tp).count() == nRows, "row drift")
        m.addedRows
      }
      // Merge PLANNING at manifest scale (VERDICT r11 item 8): 2,000
      // manifest entries — the log fold plus the candidate/touched
      // resolution (an exact decoded-path map since round 12, not the
      // old O(candidates × touched) endsWith scan) must stay
      // sub-second driver work. Planning cost tracks FILE COUNT, so
      // 2,000 entries is the shape proxy for the ~1e5 of a 100 TB
      // table at 1 GB files (the fold is a linear hash-map pass).
      val tm = s"$scratch/tm"
      timed("cowmanifest") {
        CowTable.create(spark, tm,
          big.repartitionByRange(2000, col("k")), Seq("k"))
        TxLog.snapshot(spark, tm).files.size.toLong
      }
      timed("cowplan") {
        var nFiles = 0
        val foldMs = Runner.seconds {
          nFiles = TxLog.snapshot(spark, tm).files.size
        } * 1e3
        require(nFiles >= 1990,
          s"expected ~2000 manifest entries, got $nFiles")
        // The fold is expected sub-second; report it as a metric and
        // only hard-fail at a 10x backstop so a loaded host can't fail
        // the stress run for a timing reason unrelated to correctness
        // (ADVICE r12). Structural regressions (a super-linear fold)
        // still trip the backstop.
        println(f"STRESS cowplan manifest fold: $foldMs%.0f ms")
        if (foldMs >= 1000)
          println(f"STRESS cowplan WARNING: fold $foldMs%.0f ms " +
            "exceeds the expected sub-second budget (loaded host?)")
        require(foldMs < 10000, f"manifest fold took $foldMs%.0f ms " +
          "(10x over budget -- structural, not host noise)")
        val m = CowTable.merge(spark, tm, bumped(col("k") < 3000, 9.0d),
          Seq("k"), checkUniqueKeys = false)
        require(m.prunedFiles >= 1990,
          s"pruned only ${m.prunedFiles} of $nFiles")
        require(m.touchedFiles <= 4, s"touched ${m.touchedFiles} files")
        m.addedRows
      }
      // Shallow clone at manifest scale: forking the 2,000-file table
      // is ONE metadata commit (no data job — the "fork 100 TB in
      // milliseconds" claim, measured), and the fork stays fully
      // functional: a narrow merge against the clone's EXTERNAL
      // references plans with the same zone-map selectivity and
      // rewrites into the clone's own data dir, source untouched.
      val tclone = s"$scratch/tclone"
      timed("cowclone") {
        val cloneMs =
          Runner.seconds(CowTable.shallowClone(spark, tm, tclone)) * 1e3
        println(f"STRESS cowclone fork: $cloneMs%.0f ms (2,000 files)")
        require(cloneMs < 10000, f"clone took $cloneMs%.0f ms")
        val srcV = TxLog.latestVersion(spark, tm)
        val m = CowTable.merge(spark, tclone,
          bumped(col("k") >= 5000 && col("k") < 8000, 11.0d), Seq("k"),
          checkUniqueKeys = false)
        require(m.prunedFiles >= 1990,
          s"external pruning broke: $m")
        require(TxLog.latestVersion(spark, tm) == srcV,
          "clone merge leaked a commit into the source")
        m.addedRows
      }
      // Replication at scale: a 2.25M-row / 200-file source takes a
      // key-clustered CDC merge; the replica drains the whole history
      // (catch-up: create + merge) through the rate-unlimited feed and
      // must agree on count AND a content checksum. The merge-commit
      // leg of the feed ships rewritten survivors + CDC rows — the
      // cost is O(touched + changes), never a source rescan.
      val rsrc = s"$scratch/rsrc"
      val rdst = s"$scratch/rdst"
      timed("cowreplsrc") {
        CowTable.create(spark, rsrc,
          big.repartitionByRange(200, col("k")), Seq("k"))
        CowTable.merge(spark, rsrc,
          big.filter(col("k") < 12000)
            .select(col("k"), col("c"), (col("p") + 7.0d).as("p"),
              (col("k") % 97 === 3).as("del")),
          Seq("k"), Some("del"), checkUniqueKeys = false, cdc = true)
        nRows
      }
      timed("cowreplica") {
        val q = streaming.TableSink.replicaSink(
          streaming.TableChangeFeed.readCdc(spark, rsrc),
          rdst, Seq("k"), appId = "table-replica")
          .option("checkpointLocation", s"$scratch/rckpt").start()
        try q.processAllAvailable() finally q.stop()
        val s = CowTable.read(spark, rsrc)
          .agg(count(lit(1)), sum(col("k") * col("c"))).collect()(0)
        val d = CowTable.read(spark, rdst)
          .agg(count(lit(1)), sum(col("k") * col("c"))).collect()(0)
        require(s.getLong(0) == d.getLong(0) && s.getLong(1) == d.getLong(1),
          s"replica diverged: $s vs $d")
        d.getLong(0)
      }
      // Continuous curation at corpus scale, INDEXED mode: the whole
      // documents corpus seeds the persisted bucketed index; two
      // ingest waves (an exact-copy slice and a mutated slice) drain
      // through the change feed + curateSink. The proof: keeps +
      // quarantined == wave volume exactly (nothing dropped on the
      // floor, nothing double-counted), and the screen ran against
      // the INDEX (O(batch) shingle work), not a corpus re-shingle.
      val docs = loadSpread("documents").select("doc_id", "text")
      val nDocs = docs.count()
      val craw = s"$scratch/craw"
      val ccur = s"$scratch/ccur"
      val cquar = s"$scratch/cquar"
      Seq("gs_curidx_hashes", "gs_curidx_bands", "gs_curidx_shingles")
        .foreach { tb =>
          spark.sql(s"DROP TABLE IF EXISTS $tb")
          val loc = new org.apache.hadoop.fs.Path(
            s"${spark.conf.get("spark.sql.warehouse.dir")}/$tb")
          val lfs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (lfs.exists(loc)) { lfs.delete(loc, true); () }
        }
      timed("cowcurseed") {
        CowTable.create(spark, ccur, docs, Seq("doc_id"))
        dedup.IncrementalDedup.writeIndex(
          dedup.IncrementalDedup.buildIndex(docs, "doc_id", "text"),
          "gs_curidx")
        nDocs
      }
      timed("cowcurate") {
        val wave1 = docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        val wave2 = docs.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            reverse(col("text")).as("text"))
        CowTable.create(spark, craw, wave1, Seq("doc_id"))
        CowTable.append(spark, craw, wave2)
        val waveTotal = wave1.count() + wave2.count()
        val q = streaming.TableCuration.curateSink(
          streaming.TableChangeFeed.readChanges(spark, craw),
          ccur, "doc_id", "text", appId = "table-curation",
          indexPrefix = Some("gs_curidx"),
          quarantinePath = Some(cquar))
          .option("checkpointLocation", s"$scratch/cckpt").start()
        try q.processAllAvailable() finally q.stop()
        val kept = CowTable.read(spark, ccur).count() - nDocs
        val rejected = CowTable.read(spark, cquar).count()
        require(kept + rejected == waveTotal,
          s"curation lost rows: kept=$kept rejected=$rejected of $waveTotal")
        require(rejected >= waveTotal / 4,
          s"the exact-copy wave must quarantine: $rejected of $waveTotal")
        require(kept >= waveTotal / 8,
          s"the reversed wave must mostly keep: kept=$kept of $waveTotal")
        kept
      }
    },

    entry("txlog100k") { st => import st._
      // The 100 TB metadata claim, measured: a log holding 100k
      // manifest entries (the ~1 GB-file count at 100 TB) must open in
      // driver-tolerable time. Synthetic commits (the fold never
      // touches data files) build 50 × 2,000-add commits; the interval
      // checkpoints land as PARQUET sidecars (entries ≫ threshold),
      // and the fold is timed against the inline-JSON form of the SAME
      // log for the comparison the round-14 plan asked to report.
      import tables.TxLog
      def build(t: String): Unit = synthLog(t, 50, 2000)
      def foldTimed(t: String, label: String): Long = {
        val ms = minMs {
          val s = TxLog.snapshot(spark, t)
          require(s.files.size == 100000, s"fold lost files: ${s.files.size}")
        }
        println(f"STRESS $label: min $ms%.0f ms over 3 folds " +
          "(100,000 manifest entries)")
        100000L
      }
      timed("txlogbuild") { build(s"$scratch/tp"); 100000L }
      timed("txlogfoldpq") {
        foldTimed(s"$scratch/tp", "txlog parquet-ckpt fold")
      }
      // inline-JSON comparison: same log shape, threshold forced high
      sys.props("graft.txlog.parquetCheckpointThreshold") = "10000000"
      try {
        timed("txlogbuildjs") { build(s"$scratch/tj"); 100000L }
        timed("txlogfoldjs") {
          foldTimed(s"$scratch/tj", "txlog json-ckpt fold")
        }
      } finally {
        sys.props.remove("graft.txlog.parquetCheckpointThreshold"); ()
      }
      // a zone-map probe over the folded manifest stays sharp at 100k
      timed("txlogprune") {
        val s = TxLog.snapshot(spark, s"$scratch/tp")
        val hit = s.files.count(_.stats.get("k")
          .forall(_.mayOverlap("50000000", "50009999")))
        require(hit <= 12, s"prune kept $hit of 100k files")
        hit.toLong
      }
    },

    entry("bm25del") { st => import st._
      // Round-15 horizon #2, measured: the Bm25Table postings delete
      // probe is point-set pruned by the deleted docs' vocabulary
      // (CowTable.deleteWhereMatchingAny) — at ~1.5M postings over 64
      // term-clustered files, deleting narrow-vocabulary docs probes
      // O(files overlapping that vocabulary), reported below, and the
      // serve afterward no longer scores the deleted docs.
      val idx = s"$scratch/idx"
      // doc i speaks a 15-term band at (i % 1000) * 10 — vocabulary
      // w000000..w010004, every doc's terms tightly clustered
      val docs = spark.range(100000).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 15).map(j =>
          format_string("w%06d", col("id") % 1000 * 10 + lit(j))): _*)
          .as("text"))
      timed("bm25delbuild") {
        text.Bm25Table.create(spark, idx, docs, "doc_id", "text",
          postingFiles = 64)
        1500000L
      }
      timed("bm25delete") {
        // 10 docs, all speaking the band at 70..84: the probe must
        // plan only the file(s) covering that term range
        val dels = docs.filter(col("doc_id") % 10000 === 7)
        val m = text.Bm25Table.delete(spark, idx, dels,
          "doc_id", "text")
        println(s"STRESS bm25 delete probe: ${m.candidateFiles} of " +
          s"${m.candidateFiles + m.prunedFiles} postings files probed " +
          s"(pruned ${m.prunedFiles}), ${m.touchedFiles} rewritten, " +
          s"${m.rowsBefore - m.rowsAfter} postings rows removed")
        require(m.candidateFiles <= 4 && m.prunedFiles >= 60,
          s"delete probe did not prune: $m")
        require(m.rowsBefore - m.rowsAfter == 150L,
          s"expected 150 postings removed, got $m")
        // serve sanity: the deleted docs never score again
        import spark.implicits._
        val hits = text.Bm25Table.topDocs(spark, idx,
          Seq((0L, "w000070"), (0L, "w000071")).toDF("q_id", "term"), 20)
        require(hits.filter(col("doc_id") % 10000 === 7).count() == 0L,
          "a deleted doc scored after delete")
        1500000L
      }
    },

    entry("bm25lsm") { st => import st._
      // Round-16 (verdict r15 #8): BOTH df-fold shapes timed at a
      // wide-vocabulary scale — the keyed replace-MERGE (one row per
      // term, rewrites every df file holding a touched term) vs the
      // LSM delta APPEND (O(batch vocab) blind append, zero rewrites,
      // compacted lazily). Corpus vocabulary 1M terms; each fold batch
      // touches 100k of them (wide — the merge's worst case: every df
      // file holds touched terms).
      def corpus(lo: Long, hi: Long) =
        spark.range(lo, hi).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 100).map(j =>
            format_string("w%07d", col("id") % 10000 * 100 + lit(j))): _*)
            .as("text"))
      def batchAt(b: Int) = // 1000 docs × 100 distinct terms = 100k vocab
        corpus(1000000L + b * 1000L, 1000000L + b * 1000L + 1000L)
      val (mergeIdx, deltaIdx) = (s"$scratch/m", s"$scratch/d")
      timed("bm25lsmbuild") {
        Seq(mergeIdx, deltaIdx).foreach(p => text.Bm25Table.create(
          spark, p, corpus(0, 10000), "doc_id", "text",
          postingFiles = 32))
        1000000L
      }
      def timeFolds(idx: String, delta: Boolean): Double =
        Runner.seconds((0 until 3).foreach(b => text.Bm25Table.fold(spark,
          idx, batchAt(b), "doc_id", "text", dfDelta = delta))) * 1e3 / 3
      timed("bm25lsmfold") {
        val mergeMs = timeFolds(mergeIdx, delta = false)
        val deltaMs = timeFolds(deltaIdx, delta = true)
        val compactMs = Runner.seconds(
          text.Bm25Table.compactDf(spark, deltaIdx, dfFiles = 8)) * 1e3
        println(f"STRESS bm25 df fold @1M-term vocab, 100k-term " +
          f"batches: keyed merge $mergeMs%.0f ms/batch vs LSM delta " +
          f"append $deltaMs%.0f ms/batch + one compact $compactMs%.0f " +
          "ms — delta amortizes when batches-per-compaction × " +
          "(merge − delta) > compact, i.e. almost immediately at " +
          "wide vocabularies; narrow-vocabulary batches (few df files " +
          "rewritten) keep the merge competitive")
        // identity: both shapes serve the same scores
        import spark.implicits._
        val q = Seq((0L, "w0000100"), (0L, "w0000101")).toDF("q_id", "term")
        def served(idx: String) = text.Bm25Table.topDocs(spark, idx, q, 10)
          .select("doc_id", "rank").collect().map(r =>
            (r.getLong(0), r.getInt(1))).toSet
        val (a, b) = (served(mergeIdx), served(deltaIdx))
        require(a == b, s"df modes diverged: $a vs $b")
        1000000L
      }
    },

    entry("txlog1m") { st => import st._
      // Round-15: the last driver ceiling, measured at 10× the 100 TB
      // shape — 1,000,000 manifest entries (100 × 10,000-add commits,
      // parquet-sidecar checkpoints). Three numbers:
      //   - metadata fold (snapshotPlanned): table-level state only,
      //     the base entries stay on disk — what every DDL/append op
      //     now pays;
      //   - distributed prune (ManifestPlan): a narrow zone-map range
      //     planned as a DataFrame over the sidecar, collecting ONLY
      //     the ~10 surviving entries — what merge/readWhere pay;
      //   - materialized fold (snapshot): the full driver decode —
      //     what only whole-table maintenance (optimize/restore/
      //     vacuum/overwrite) still pays, reported for the contrast.
      import tables.{ManifestPlan, TxLog}
      import tables.TxLog.{AddFile, ColStats, Commit}
      val t = s"$scratch/t"
      timed("txlog1mbuild") {
        synthLog(t, 100, 10000, bytes = Some(128L * 1024 * 1024))
        1000000L
      }
      timed("txlog1mmeta") {
        val ms = minMs {
          val p = TxLog.snapshotPlanned(spark, t)
          require(p.isDistributed && p.meta.files.isEmpty)
        }
        println(f"STRESS txlog 1M metadata fold: min $ms%.0f ms " +
          "(base entries never materialized)")
        1000000L
      }
      timed("txlog1mprune") {
        val p = TxLog.snapshotPlanned(spark, t)
        val ms = minMs {
          val hit = ManifestPlan.collectSurvivors(spark, t, p,
            ManifestPlan.mayOverlap("k", "500000000", "500009999"))
          require(hit.size <= 12 && hit.nonEmpty,
            s"prune kept ${hit.size} of 1M files")
        }
        println(f"STRESS txlog 1M distributed prune: min $ms%.0f ms " +
          "(survivors only cross to the driver)")
        1000000L
      }
      // round 16: FULL-read planning is now a LEAN listing (the
      // ManifestFileIndex provider) — time it and contrast the DRIVER
      // HEAP it retains against the decoded-AddFile fold. (The entries
      // are synthetic — no parquet bytes on disk — so the scan itself
      // can't run here; the listing IS the planning cost the ceiling
      // was about, split sizing runs off the manifest's byte lengths.)
      def usedHeap(): Long = {
        (1 to 3).foreach(_ => System.gc()); Thread.sleep(100)
        val rt = Runtime.getRuntime; rt.totalMemory() - rt.freeMemory()
      }
      timed("txlog1mlist") {
        val p = TxLog.snapshotPlanned(spark, t)
        val rootQ = TxLog.fs(spark, t).makeQualified(
          new org.apache.hadoop.fs.Path(t)).toString.stripSuffix("/")
        val base = usedHeap()
        var lean: Seq[org.apache.spark.sql.graft.ManifestFileIndex.Entry] = null
        val ms = Runner.seconds {
          lean = ManifestPlan.leanListing(spark, t, p, rootQ)
        } * 1e3
        require(lean.size == 1000000, s"lean listing lost: ${lean.size}")
        require(lean.forall(_.bytes == 128L * 1024 * 1024))
        val held = usedHeap() - base
        println(f"STRESS txlog 1M lean full-read listing: $ms%.0f ms, " +
          f"~${held / 1e6}%.0f MB driver heap retained " +
          "(paths+lengths only — what the FileIndex hands the scheduler)")
        val n = lean.size.toLong
        lean.foreach(e => require(e != null)) // keep `lean` live past gc
        n
      }
      timed("txlog1mroll") {
        // round 16: the every-20-commits checkpoint is a DISTRIBUTED
        // sidecar-to-sidecar roll — time the commit that lands one at
        // the full 1M-entry manifest (the old path materialized the
        // whole fold on the driver here, every interval, forever)
        var v = TxLog.latestVersion(spark, t)
        def commitNext(): Unit = {
          v += 1
          require(TxLog.tryCommit(spark, t, Commit(v, "append",
            Seq(AddFile(f"data/tail/part-$v%05d.parquet", 1000L,
              Map("k" -> ColStats("long", "0", "999", Some(false))),
              bytes = Some(1024L))), Seq.empty, None, None)))
        }
        while ((v + 1) % TxLog.CheckpointInterval != 0) commitNext()
        val ms = Runner.seconds(commitNext()) * 1e3
        val names = TxLog.fs(spark, t).listStatus(
          new org.apache.hadoop.fs.Path(t, TxLog.LogDir))
          .map(_.getPath.getName)
        require(names.contains(f"$v%020d.checkpoint.json") &&
          names.contains(f"$v%020d.checkpoint.files.parquet"),
          "the timed commit must have rolled a sidecar checkpoint")
        println(f"STRESS txlog 1M checkpoint roll: $ms%.0f ms for the " +
          "commit that writes the 1M-entry sidecar DISTRIBUTED " +
          "(base entries never cross the driver)")
        1000000L
      }
      timed("txlog1mclone") {
        // round 16: clone CREATES ride commit adds-sidecars — a
        // 1M-entry shallow clone is one distributed frame write plus
        // a small JSON commit, with neither manifest on the driver
        val dst = s"$scratch/clone"
        val base = usedHeap()
        val ms =
          Runner.seconds(tables.CowTable.shallowClone(spark, t, dst)) * 1e3
        val held = usedHeap() - base
        val c1 = TxLog.commitAt(spark, dst, 1L)
        require(c1.addsRef.isDefined && c1.adds.isEmpty,
          "a big clone must commit through an adds-sidecar")
        val n = tables.ManifestPlan.filesDf(spark, dst,
          TxLog.snapshotPlanned(spark, dst)).count()
        require(n >= 1000000, s"clone lost entries: $n")
        println(f"STRESS txlog 1M shallow clone: $ms%.0f ms, " +
          f"~${held / 1e6}%.0f MB driver heap retained " +
          "(commit adds-sidecar — neither manifest crosses the driver)")
        n
      }
      timed("txlog1mfold") {
        val base = usedHeap()
        var snap: TxLog.Snapshot = null
        val ms = Runner.seconds {
          snap = TxLog.snapshot(spark, t)
          // 1M base + the roll stress's ~20 tail entries
          require(snap.files.size >= 1000000 && snap.files.size <= 1000050,
            s"fold lost files: ${snap.files.size}")
        } * 1e3
        val held = usedHeap() - base
        println(f"STRESS txlog 1M materialized fold: $ms%.0f ms, " +
          f"~${held / 1e6}%.0f MB driver heap retained " +
          "(decoded AddFiles — only explicit audits pay this now)")
        snap.files.length.toLong
      }
    }
  )

  def main(args: Array[String]): Unit = {
    val sfDir = Runner.sfDir
    val spark = Runner.session()
    val slots = run(spark, sfDir, Runner.selected(table.map(_.name)))
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(Bench.finalLine(slots, sfDir))
    if (slots.exists(_._2.isLeft)) sys.exit(1)
  }

  /** Runs the named scenarios in table order, each through
    * [[Runner.step]] with a fresh scratch directory: per scenario its
    * labelled timings, or its error under the scenario's name.
    */
  def run(spark: SparkSession, dir: String,
      names: Seq[String]): Seq[Bench.Slot] = {
    val root = java.nio.file.Files.createTempDirectory("graft-stress")
    try table.filter(e => names.contains(e.name)).flatMap { e =>
      val stage = new Stage(spark, dir, s"$root/${e.name}")
      Runner.step(spark) {
        try e.body(stage)
        finally FileUtils.deleteDirectory(new java.io.File(stage.scratch))
      }.fold(
        err => {
          println(s"STRESS ${e.name} FAILED: $err")
          Seq(e.name -> Left(err))
        },
        _ => stage.timings.toSeq.map { case (l, t) => l -> Right(Vector(t)) })
    } finally FileUtils.deleteDirectory(root.toFile)
  }
}
