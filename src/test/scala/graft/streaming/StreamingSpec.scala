package graft.streaming

import graft.SparkTestSession
import graft.diff.FlagCounts
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming module tests via MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed counts: streaming result equals the batch formulation") {
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 10:20:00"), "view", 5.0),
      (ts("2024-01-01 11:10:00"), "click", 3.0))

    val stream = MemoryStream[(Timestamp, String, Double)](spark)
    val q = EventStream.windowedCounts(
        stream.toDF().toDF("ts", "event_type", "value"),
        watermark = Some("2 hours"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("evagg").start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("evagg")
        .orderBy("window_start", "event_type").collect()
      val batch = EventStream.windowedCounts(
          rows.toDF("ts", "event_type", "value"))
        .orderBy("window_start", "event_type").collect()
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length === 3) // (10h click), (10h view), (11h click)
    } finally q.stop()
  }

  test("anomaly stream: incremental z equals the batch rollingZ bit-for-bit") {
    // raw events: group a calm for 4 hours then a spike; group b sparse
    val events = Seq(
      ("a", ts("2024-01-01 00:10:00")), ("a", ts("2024-01-01 00:20:00")),
      ("a", ts("2024-01-01 01:10:00")), ("a", ts("2024-01-01 01:40:00")),
      ("a", ts("2024-01-01 02:05:00")), ("a", ts("2024-01-01 02:06:00")),
      ("a", ts("2024-01-01 03:01:00")), ("a", ts("2024-01-01 03:02:00")),
      ("a", ts("2024-01-01 03:03:00")), ("a", ts("2024-01-01 03:04:00")),
      ("b", ts("2024-01-01 00:30:00")), ("b", ts("2024-01-01 02:30:00")))
    val batchScored = graft.operators.Anomaly
      .rollingZ(events.toDF("g", "ts"), "g", "ts", window = 3)
      .orderBy("grp", "bucket_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))

    // the finalized bucket stream: same counts, fed in event-time order
    // split across two micro-batches (state must carry across)
    val buckets = events.groupBy(e => (e._1, e._2.getTime / 3600000L))
      .map { case ((g, h), es) =>
        AnomalyStream.Bucket(g, new Timestamp(h * 3600000L), es.size.toLong) }
      .toSeq.sortBy(b => (b.grp, b.bucket_ts.getTime))
    val (first, rest) = buckets.splitAt(3)
    val stream = MemoryStream[AnomalyStream.Bucket](spark)
    implicit val s = spark
    val q = AnomalyStream.scored(stream.toDS(), window = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("anomstream").start()
    try {
      stream.addData(first)
      q.processAllAvailable()
      stream.addData(rest)
      q.processAllAvailable()
      val streamed = spark.table("anomstream")
        .orderBy("grp", "bucket_ts").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
      assert(streamed.toSeq === batchScored.toSeq)
      assert(streamed.length === 6) // a: 4 buckets, b: 2 buckets
    } finally q.stop()
  }

  test("funnel stream: advancement counts equal the batch stage table") {
    // u1 full funnel; u2 clicks before viewing (never advances past
    // view); u3 views only; u4 ties click to its view instant (strict >
    // excludes it). Batches split mid-funnel so state carries across.
    val events = Seq(
      FunnelStream.Event("u1", "view", 10L),
      FunnelStream.Event("u2", "click", 5L),
      FunnelStream.Event("u2", "view", 10L),
      FunnelStream.Event("u3", "view", 10L),
      FunnelStream.Event("u4", "view", 10L),
      FunnelStream.Event("u4", "click", 10L),
      // second batch
      FunnelStream.Event("u1", "click", 20L),
      FunnelStream.Event("u1", "purchase", 30L),
      FunnelStream.Event("u2", "purchase", 15L))
    val (b1, b2) = events.splitAt(6)
    val stream = MemoryStream[FunnelStream.Event](spark)
    implicit val s = spark
    val q = FunnelStream.advances(stream.toDS(),
        Seq("view", "click", "purchase"))
      .writeStream.outputMode("append")
      .format("memory").queryName("funstream").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      val adv = spark.table("funstream").as[FunnelStream.Advance]
        .collect().toSeq
      val streamCounts = adv.groupBy(_.step).view.mapValues(_.size.toLong)
        .toMap
      val batchCounts = graft.operators.Funnel.stages(
          events.map(e => (e.entity, e.step, e.ts))
            .toDF("user_id", "event_type", "ts"),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert((1 to 3).map(i => streamCounts.getOrElse(i, 0L)) ===
        (1 to 3).map(i => batchCounts(i)))
      // the u1 chain advanced with the right stamps
      assert(adv.filter(_.entity == "u1").sortBy(_.step) ===
        Seq(FunnelStream.Advance("u1", 1, 10L),
          FunnelStream.Advance("u1", 2, 20L),
          FunnelStream.Advance("u1", 3, 30L)))
    } finally q.stop()
  }

  test("lm scoring: a stream scores against a frozen static corpus model") {
    val corpus = Seq((1L, "aa aa bb"), (2L, "aa cc")).toDF("doc_id", "text")
    val fitted = graft.text.LmScore.model(corpus, "doc_id", "text", k = 2)
    val stream = MemoryStream[(Long, String)](spark)
    val q = graft.text.LmScore.scoreWith(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", fitted)
      .writeStream.outputMode("append")
      .format("memory").queryName("lmstream").start()
    try {
      stream.addData(Seq((10L, "aa zz"), (11L, "")))
      q.processAllAvailable()
      val streamed = spark.table("lmstream").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val batch = graft.text.LmScore.scoreWith(
          Seq((10L, "aa zz"), (11L, "")).toDF("doc_id", "text"),
          "doc_id", "text", fitted)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed(0)._3 === 1L) // zz is OOV under the frozen model
    } finally q.stop()
  }

  test("psi stream: windowed bins + frozen-reference scoring equal the batch gate") {
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), 5.0), (ts("2024-01-01 10:15:00"), 5.0),
      (ts("2024-01-01 10:25:00"), 15.0), (ts("2024-01-01 10:35:00"), 25.0),
      (ts("2024-01-01 11:10:00"), 5.0), (ts("2024-01-01 11:20:00"), 35.0))
    val stream = MemoryStream[(Timestamp, Double)](spark)
    val q = PsiStream.bins(stream.toDF().toDF("ts", "v"), "ts", "v",
        "1 hour", lo = 0.0, width = 10.0, nBins = 4,
        watermark = Some("2 hours"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("psibins").start()
    try {
      stream.addData(rows.take(3)); q.processAllAvailable()
      stream.addData(rows.drop(3)); q.processAllAvailable() // state merges
      val winBins = spark.table("psibins")
      // streaming bins == batch bins of the concatenated stream
      val batchBins = PsiStream.bins(rows.toDF("ts", "v"), "ts", "v",
        "1 hour", 0.0, 10.0, 4)
      assert(winBins.orderBy("window_start", "bin").collect().toSeq ===
        batchBins.orderBy("window_start", "bin").collect().toSeq)
      // scoring the 10h window against a reference == the batch PSI
      // gate on the same slice (identical smoothing + quantization)
      import org.apache.spark.sql.functions.{col, count, floor, greatest, least, lit}
      val refRaw = Seq(5.0, 5.0, 5.0, 15.0, 25.0, 35.0).toDF("v")
      val ref = refRaw.select(
          least(greatest(floor(col("v") / 10.0), lit(0.0)), lit(3.0))
            .cast("bigint").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_a"))
      val scored = PsiStream.scoreAgainst(winBins, ref, nBins = 4)
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .orderBy("bin").collect()
        .map(r => (r.getLong(1), r.getLong(4))).toMap
      val h10 = rows.filter(_._1.getTime < ts("2024-01-01 11:00:00").getTime)
      val gate = graft.operators.Psi.stability(
          refRaw, h10.map(_._2).toDF("v"), "v", 0.0, 10.0, 4)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      gate.foreach { case (bin, psiQ) => assert(scored(bin) === psiQ, s"bin $bin") }
      // full-domain rows absent from both sides carry exactly zero
      scored.keySet.diff(gate.keySet).foreach(b => assert(scored(b) === 0L))
    } finally q.stop()
  }

  test("psi scoring: a bin absent from BOTH sides carries exactly zero") {
    // totals differ (ref 3 rows vs window 2), so smoothing alone would
    // give the empty bin a positive psi term (pa = 1/(3+5) != pb =
    // 1/(2+5)) — the r9 advice hole; the explicit zero matches the
    // batch gate's bin set, which never emits such bins
    import org.apache.spark.sql.functions.col
    val ref = Seq((0L, 2L), (1L, 1L)).toDF("bin", "n_a")
    val winBins = Seq((ts("2024-01-01 10:00:00"), 0L, 1L),
      (ts("2024-01-01 10:00:00"), 3L, 1L))
      .toDF("window_start", "bin", "n_b")
      .select(col("window_start"), col("bin"), col("n_b").as("n"))
    val scored = PsiStream.scoreAgainst(winBins, ref, nBins = 5)
      .orderBy("bin").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(scored.length === 5) // full domain
    // bins 2 and 4: absent from both sides -> psi_q exactly 0
    Seq(2L, 4L).foreach { b =>
      val row = scored.find(_._1 == b).get
      assert(row._2 === 0L && row._3 === 0L && row._4 === 0L, s"bin $b")
    }
    // one-sided bins keep their smoothed (nonzero) contribution
    Seq(1L, 3L).foreach { b => assert(scored.find(_._1 == b).get._4 !== 0L) }
  }

  test("nb classifier: a stream screens against a frozen merged model") {
    // the model-based quality screen at ingest: batch-fit (or exactly
    // merged) NB model, pure-projection scoring — the same composition
    // as the lm face above, so the standing model can be maintained by
    // NbQuality.merge between micro-batch generations
    val cfg = graft.text.NbQuality.Config(
      posSources = Seq("src0"), negRate = 1.0, negSalt = "t", vocabK = 8)
    val vocab = Seq("aa", "bb", "cc", "zz")
    val b1 = Seq((1L, "aa aa bb", "src0"), (2L, "cc cc", "srcX"))
      .toDF("doc_id", "text", "source")
    val b2 = Seq((3L, "aa bb", "src0"), (4L, "zz cc", "srcY"))
      .toDF("doc_id", "text", "source")
    val standing = graft.text.NbQuality.merge(
      graft.text.NbQuality.fitWithVocab(b1, "doc_id", "text", cfg, vocab),
      graft.text.NbQuality.fitWithVocab(b2, "doc_id", "text", cfg, vocab))
    val stream = MemoryStream[(Long, String)](spark)
    val q = graft.text.NbQuality.scoreWith(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", standing)
      .writeStream.outputMode("append")
      .format("memory").queryName("nbstream").start()
    try {
      stream.addData(Seq((10L, "aa aa bb"), (11L, "cc zz")))
      q.processAllAvailable()
      val streamed = spark.table("nbstream").orderBy("doc_id").collect()
        .map(_.toString).toSeq
      val batch = graft.text.NbQuality.scoreWith(
          Seq((10L, "aa aa bb"), (11L, "cc zz")).toDF("doc_id", "text"),
          "doc_id", "text", standing)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("text scoring + repetition projections run unchanged on a stream") {
    // The per-row text family (stats, langid, repetition's bigram
    // histogram on a per-batch basis) is stateless, so the SAME
    // functions accept a streaming frame — the property that lets a
    // curation front-end score documents as they arrive.
    val stream = MemoryStream[(Long, String)](spark)
    val input = stream.toDF().toDF("doc_id", "text")
    val q = graft.text.TextStats.describe(input, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("tscore").start()
    try {
      stream.addData(Seq((1L, "the cat sat on the mat"), (2L, "a b a b")))
      q.processAllAvailable()
      val streamed = spark.table("tscore").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getAs[Double]("quality")))
      val batch = graft.text.TextStats.describe(
          Seq((1L, "the cat sat on the mat"), (2L, "a b a b"))
            .toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getAs[Double]("quality")))
      assert(streamed.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("windowed counts on the real events table match the hourly rollup query") {
    import org.apache.spark.sql.functions.{col, date_format}
    // date_trunc yields TIMESTAMP, window() yields TIMESTAMP_NTZ — render
    // both as strings (session tz is UTC) to compare the VALUES
    def rows(df: org.apache.spark.sql.DataFrame, hourCol: String) = df
      .withColumn(hourCol, date_format(col(hourCol), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = graft.queries.Tables.loadEvents(spark, "/root/testdata/sf0.001")
    val viaWindow = rows(EventStream.windowedCounts(ev)
      .orderBy("window_start", "event_type"), "window_start")
    val viaTrunc = rows(graft.queries.Relational
      .qEventsHourly(spark, "/root/testdata/sf0.001"), "hour")
    assert(viaWindow.toSeq === viaTrunc.toSeq)
  }

  test("snapshot diff: per-micro-batch flag counts against a reference table") {
    val snapshot = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "score")
    val stream = MemoryStream[(Long, String, Int)](spark)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, FlagCounts)]
    val q = SnapshotDiff.againstSnapshot(
        stream.toDF().toDF("id", "name", "score"), snapshot, Seq("id")) {
        (batchId, res) =>
          seen += batchId -> res.counts
          res.diff.unpersist()
      }.start()
    try {
      // batch: id=1 unchanged, id=2 changed, id=9 new
      stream.addData(Seq((1L, "a", 10), (2L, "b", 99), (9L, "x", 1)))
      q.processAllAvailable()
      assert(seen.size === 1)
      val counts = seen.head._2
      assert(counts.noDiff === 1)
      assert(counts.diff === 1)
      assert(counts.s2Only === 1)
      assert(counts.s1Only === 0) // by construction (semi-joined snapshot)
    } finally q.stop()
  }

  test("ingest screen: per-micro-batch verdicts equal the batch operator") {
    val longDoc =
      "the quick brown fox jumps over the lazy dog again and again every day"
    val corpus = Seq(1L -> longDoc, 2L -> "some other standing corpus doc here")
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)](spark)
    val seen = scala.collection.mutable.Map.empty[Long, Set[(Long, Int, Int, Int)]]
    val q = MicroBatch.each(stream.toDF().toDF("doc_id", "text")) {
        (batchId, b) =>
          val v = graft.dedup.IncrementalDedup
            .verdicts(corpus, b, "doc_id", "text")
          seen += batchId -> v.collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
            .toSet
      }.start()
    try {
      val b1 = Seq(10L -> longDoc, 11L -> "entirely fresh text nothing shared")
      val b2 = Seq(12L -> (longDoc + " zzz"))
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      // per micro-batch ≡ batch operator over the same rows (which is
      // itself oracle-gated as dedup_incremental) — exact dup, fresh,
      // near dup
      for ((batch, id) <- Seq(b1 -> 0L, b2 -> 1L)) {
        val expect = graft.dedup.IncrementalDedup
          .verdicts(corpus, batch.toDF("doc_id", "text"), "doc_id", "text")
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
          .toSet
        assert(seen(id) === expect)
      }
      assert(seen(0L) === Set((10L, 1, 1, 0), (11L, 0, 0, 1)))
      assert(seen(1L) === Set((12L, 0, 1, 0)))
    } finally q.stop()
  }

  test("cluster maintain: folded standing table equals full recompute") {
    import graft.dedup.Clusters
    val seed = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    // standing store for the spec: a var the callbacks read and write
    var standing = Clusters.connectedComponents(seed, "doc_a", "doc_b")
      .localCheckpoint(true)
    val stream = MemoryStream[(Long, Long)](spark)
    val q = ClusterMaintain.maintain(
        stream.toDF().toDF("doc_a", "doc_b"), "doc_a", "doc_b") {
        () => standing
      } { folded => standing = folded.localCheckpoint(true) }
      .start()
    try {
      // batch 1 bridges the two seed clusters; batch 2 opens a new one
      // and extends the merged cluster with a fresh node
      val b1 = Seq(2L -> 10L)
      val b2 = Seq(20L -> 21L, 11L -> 30L)
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      val got = standing.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Clusters.connectedComponents(
          seed.unionByName((b1 ++ b2).toDF("doc_a", "doc_b")),
          "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
      assert(got(30L) === 1L && got(21L) === 20L) // merged + fresh cluster
    } finally q.stop()
  }

  test("cluster maintain releases its per-batch snapshot checkpoints " +
      "deterministically (ADVICE r15 — no GC-paced block growth)") {
    import graft.dedup.Clusters
    import org.apache.spark.sql.graft.CheckpointBridge
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val seed = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    // checkpoint-backed already (the CC loop's final round; the
    // distributed loop is forced — the r17 driver fast path returns a
    // LocalRelation with nothing to release) — the first save()'s
    // release(prev) drops it like any other generation
    var standing = Clusters.connectedComponents(seed, "doc_a", "doc_b",
      driverIterMaxEdges = 0)
    // sanity: a localCheckpoint IS a persistent-RDD entry until released
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline)
      .nonEmpty)
    val stream = MemoryStream[(Long, Long)](spark)
    val q = ClusterMaintain.maintain(
        stream.toDF().toDF("doc_a", "doc_b"), "doc_a", "doc_b") {
        () => standing
      } { folded =>
        // the caller's own generation discipline: release the previous
        // standing once the fold replacing it is materialized
        val prev = standing
        standing = folded.localCheckpoint(true)
        CheckpointBridge.release(prev)
      }
      .start()
    try {
      (1 to 3).foreach { i =>
        stream.addData(Seq(i * 10L -> (i * 10L + 1L)))
        q.processAllAvailable()
      }
      // after 3 micro-batches exactly ONE checkpoint generation lives:
      // the current standing. The maintainer's per-batch load()
      // snapshots released in its finally; prior standings in save.
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseline
      assert(leaked.size === 1,
        s"expected only the live standing checkpoint, found $leaked")
      assert(standing.count() === 8L) // 4 clusters x 2 nodes, still live
    } finally q.stop()
  }

  test("ppl router: stateless stream-static routing equals the batch face") {
    import graft.operators.GroupedNtile
    import graft.text.LmScore
    // frozen artifacts from a reference corpus: 9 en docs with token
    // rarity increasing by id, 3 de docs — boundaries are per-language
    val ref = ((1L to 9L).map(i =>
        (i, "en", ("common " * (10 - i.toInt) + s"rare$i " * i.toInt).trim)) ++
      (10L to 12L).map(i => (i, "de", s"der doc nummer$i")))
      .toDF("doc_id", "lang", "text")
    val fitted = LmScore.model(ref, "doc_id", "text", 10)
    val scoredRef = LmScore.scoreFast(ref, "doc_id", "text", fitted,
        keep = Seq("lang"))
      .select($"doc_id", $"lang", $"nll_q")
    val bounds = GroupedNtile
      .boundaries(scoredRef, "lang", $"nll_q", "doc_id", 3)
      .localCheckpoint(true) // frozen, like a table read back at serve time
    val rows = Seq((20L, "en", "common common common common"),
      (21L, "en", "utterly novel words here"),
      (22L, "de", "der doc nummer10"),
      (23L, "fr", "langue absente")) // group absent from the reference
    val stream = MemoryStream[(Long, String, String)](spark)
    val q = PplRouter.route(stream.toDF().toDF("doc_id", "lang", "text"),
        fitted, bounds, "doc_id", "text", "lang")
      .writeStream.outputMode("append")
      .format("memory").queryName("pplroute").start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("pplroute").orderBy("doc_id").collect()
        .map(r => (r.getLong(1), r.getString(0), r.getLong(2), r.getLong(3)))
      val batch = PplRouter.route(rows.toDF("doc_id", "lang", "text"),
          fitted, bounds, "doc_id", "text", "lang")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(1), r.getString(0), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq === batch.toSeq)
      val byId = streamed.map(t => t._1 -> t._4).toMap
      assert(byId(20L) === 0L, "all-common doc must route to head")
      assert(byId(21L) === 2L, "all-OOV doc must route to tail")
      assert(byId(23L) === 0L, "unseen group routes to 0 by contract")
    } finally q.stop()
  }

  test("novelty screen: per-micro-batch scores equal the batch operator") {
    import graft.text.Novelty
    val corpus = Seq(1L -> "a b c d e f", 2L -> "x y z a b c")
      .toDF("doc_id", "text")
    val idx = Novelty.index(corpus, "doc_id", "text")
      .localCheckpoint(true) // frozen snapshot, the standing artifact
    val stream = MemoryStream[(Long, String)](spark)
    val seen = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Long, Double)]]
    val q = MicroBatch.each(stream.toDF().toDF("doc_id", "text")) {
        (batchId, b) =>
          val s = Novelty.screenAgainst(idx, b, "doc_id", "text")
          seen += batchId -> s.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getDouble(3)))
            .toSet
      }.start()
    try {
      val b1 = Seq(10L -> "a b c d e f", 11L -> "q r s t u")
      val b2 = Seq(12L -> "x y z a b c q") // one unseen shingle: b-c-q
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      // per micro-batch ≡ the spec'd batch screen over the same rows
      for ((batch, id) <- Seq(b1 -> 0L, b2 -> 1L)) {
        val expect = Novelty
          .screenAgainst(idx, batch.toDF("doc_id", "text"), "doc_id", "text")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3)))
          .toSet
        assert(seen(id) === expect)
      }
      // verbatim re-crawl scores zero; fresh content scores high
      assert(seen(0L) === Set((10L, 4L, 0L, 0.0), (11L, 3L, 3L, 1.0)))
      assert(seen(1L) === Set((12L, 5L, 1L, 0.2)))
    } finally q.stop()
  }

  test("ann ingest: streamed coded appends equal rebuild with frozen codebooks") {
    import graft.similarity.IvfPq
    import graft.queries.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val standing = emb.filter($"vec_id" % 3 =!= 0)
    val arrivals = emb.filter($"vec_id" % 3 === 0).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    try {
      // train + persist on the standing corpus; codebooks then FREEZE
      val model = IvfPq.writeIndex(standing, "vec_id", "embedding", 64,
        "ann_ingest_idx")
      val stream = MemoryStream[(Long, Seq[Float])](spark)
      var folds = 0L
      val q = MicroBatch.each(stream.toDF().toDF("vec_id", "embedding")) {
          (_, b) =>
            IvfPq.appendToIndex(b, "vec_id", "embedding", 64,
              "ann_ingest_idx", model)
            folds += 1
        }.start()
      try {
        val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
        stream.addData(b1); q.processAllAvailable()
        stream.addData(b2); q.processAllAvailable()
        assert(folds === 2L)
      } finally q.stop()
      // append-then-serve ≡ coding the UNION with the same frozen
      // model, row for row (the appendToIndex contract, stream-shaped;
      // the catalog table stores the partition column last, so compare
      // in the coder's column order)
      val want = IvfPq.code(emb, "vec_id", "embedding", 64, model)
      val got = spark.table("ann_ingest_idx")
        .select(want.columns.map(org.apache.spark.sql.functions.col): _*)
        .collect()
        .map(_.toString).sorted.toSeq
      assert(got === want.collect().map(_.toString).sorted.toSeq)
      // and the streamed-in vectors are immediately servable: every
      // arrival finds itself (cos 1.0 self-match is excluded, so probe
      // a disjoint query set instead and just assert full k answers)
      val served = IvfPq.topKIndexed(spark, "ann_ingest_idx",
        Seq(arrivals.head).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 64, 5)
      assert(served.count() === 5L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ann_ingest_idx")
      spark.sql("DROP TABLE IF EXISTS ann_ingest_idx_model")
      spark.catalog.clearCache()
    }
  }

  test("graph serve: per-micro-batch beam search equals the served-index operator") {
    import graft.similarity.GraphSearch
    import graft.queries.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.filter($"vec_id" >= 8)
    val queryRows = emb.filter($"vec_id" < 8).collect()
      .map(r => (r.getLong(0) + 1000000L, r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    try {
      GraphSearch.writeIndex(corpus, "vec_id", "embedding", 5, "graph_srv")
      val stream = MemoryStream[(Long, Seq[Float])](spark)
      val seen = scala.collection.mutable.Map
        .empty[Long, Set[(Long, Int, Long, Double)]]
      val q = MicroBatch.each(stream.toDF().toDF("vec_id", "embedding")) {
          (batchId, b) =>
            val topk = GraphSearch.searchIndexed(spark, "graph_srv", b,
              "vec_id", "embedding", 10)
            seen += batchId -> topk.collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
                r.getDouble(3))).toSet
        }.start()
      try {
        val (b1, b2) = queryRows.splitAt(4)
        stream.addData(b1); q.processAllAvailable()
        stream.addData(b2); q.processAllAvailable()
        for ((batch, id) <- Seq(b1 -> 0L, b2 -> 1L)) {
          val expect = GraphSearch.searchIndexed(spark, "graph_srv",
              batch.toDF("vec_id", "embedding"), "vec_id", "embedding", 10)
            .collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
              r.getDouble(3))).toSet
          assert(seen(id) === expect)
          assert(seen(id).nonEmpty)
        }
      } finally q.stop()
    } finally {
      Seq("graph_srv_vectors", "graph_srv_edges", "graph_srv_cents")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("ann serve: per-micro-batch top-k equals the served-index batch operator") {
    import graft.similarity.IvfPq
    import graft.queries.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    try {
      IvfPq.writeIndex(emb, "vec_id", "embedding", 64, "ann_serve_idx")
      val queryRows = emb.filter($"vec_id" < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
      val stream = MemoryStream[(Long, Seq[Float])](spark)
      val seen = scala.collection.mutable.Map
        .empty[Long, Set[(Long, Int, Long, Double)]]
      // the codebooks are read once, before wiring: a frozen serving
      // snapshot reused by every micro-batch
      val model = IvfPq.readModel(spark, "ann_serve_idx")
      val q = MicroBatch.each(stream.toDF().toDF("vec_id", "embedding")) {
          (batchId, b) =>
            val topk = IvfPq.topKIndexed(spark, "ann_serve_idx", b,
              "vec_id", "embedding", 64, 10, model = Some(model))
            seen += batchId -> topk.collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
                r.getDouble(3))).toSet
        }.start()
      try {
        val (b1, b2) = queryRows.splitAt(4)
        stream.addData(b1)
        q.processAllAvailable()
        stream.addData(b2)
        q.processAllAvailable()
        // per micro-batch ≡ the spec'd batch serving path
        for ((batch, id) <- Seq(b1 -> 0L, b2 -> 1L)) {
          val expect = IvfPq.topKIndexed(spark, "ann_serve_idx",
              batch.toDF("vec_id", "embedding"), "vec_id", "embedding",
              64, 10)
            .collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
              r.getDouble(3))).toSet
          assert(seen(id) === expect)
          assert(seen(id).size === batch.size * 10)
        }
      } finally q.stop()
    } finally {
      spark.sql("DROP TABLE IF EXISTS ann_serve_idx")
      spark.sql("DROP TABLE IF EXISTS ann_serve_idx_model")
      spark.catalog.clearCache()
    }
  }

  test("keyword serve: per-micro-batch top-k equals the served-index batch operator") {
    import graft.text.Bm25
    import graft.queries.Tables
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    try {
      Bm25.writeIndex(docs, "doc_id", "text", "kw_serve_idx")
      val termRows = Bm25.rankedQueryTerms(docs, "doc_id", "text",
          firstRank = 20, nQueries = 4)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val stream = MemoryStream[(Long, String)](spark)
      val seen = scala.collection.mutable.Map
        .empty[Long, Set[(Long, Int, Long, Double)]]
      val q = MicroBatch.each(stream.toDF().toDF("q_id", "term")) {
          (batchId, b) =>
            val topk = Bm25.topDocsIndexed(spark, "kw_serve_idx", b, 5)
            seen += batchId -> topk.collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
                r.getDouble(3))).toSet
        }.start()
      try {
        val (b1, b2) = termRows.partition(_._1 < 2)
        stream.addData(b1)
        q.processAllAvailable()
        stream.addData(b2)
        q.processAllAvailable()
        // per micro-batch ≡ the spec'd batch serving path
        for ((batch, id) <- Seq(b1 -> 0L, b2 -> 1L)) {
          val expect = Bm25.topDocsIndexed(spark, "kw_serve_idx",
              batch.toDF("q_id", "term"), 5)
            .collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
              r.getDouble(3))).toSet
          assert(seen(id) === expect)
          assert(seen(id).nonEmpty)
        }
      } finally q.stop()
    } finally {
      for (s <- Seq("postings", "df", "dl", "stats"))
        spark.sql(s"DROP TABLE IF EXISTS kw_serve_idx_$s")
      spark.catalog.clearCache()
    }
  }

  test("index ingest stream: maintained BM25 index == full rebuild, fresh docs servable") {
    import graft.text.Bm25
    import graft.queries.Tables
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val seed = docs.filter($"doc_id" < 300)
    val rest = docs.filter($"doc_id" >= 300).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val qt = Bm25.rankedQueryTerms(docs, "doc_id", "text", 21, 6)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("q_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    try {
      Bm25.writeIndex(seed, "doc_id", "text", "kw_ingest_idx",
        numBuckets = 8)
      val stream = MemoryStream[(Long, String)](spark)
      val folded = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = MicroBatch.each(stream.toDF().toDF("doc_id", "text")) {
          (batchId, b) =>
            Bm25.appendToIndex(b, "doc_id", "text", "kw_ingest_idx",
              numBuckets = 8)
            folded += batchId
        }.start()
      try {
        val (b1, b2) = rest.splitAt(rest.length / 2)
        stream.addData(b1)
        q.processAllAvailable()
        stream.addData(b2)
        q.processAllAvailable()
        assert(folded.size === 2)
      } finally q.stop()
      Bm25.writeIndex(docs, "doc_id", "text", "kw_full_idx", numBuckets = 8)
      assert(rows(Bm25.topDocsIndexed(spark, "kw_ingest_idx", qt, 5)) ===
        rows(Bm25.topDocsIndexed(spark, "kw_full_idx", qt, 5)))
    } finally {
      for (s <- Seq("postings", "df", "dl", "stats")) {
        spark.sql(s"DROP TABLE IF EXISTS kw_ingest_idx_$s")
        spark.sql(s"DROP TABLE IF EXISTS kw_full_idx_$s")
      }
      spark.catalog.clearCache()
    }
  }

  test("scd2 stream: CDC micro-batches fold into the sequential batch history") {
    import graft.operators.Scd2
    val day0 = Seq((1L, "alice", "US"), (2L, "bob", "DE"))
      .toDF("id", "name", "country")
    val stream = MemoryStream[(Long, String, String, Boolean)](spark)
    val holder = new Scd2Stream.HistoryHolder(Scd2.initHistory(day0, 0L))
    val q = Scd2Stream.maintain(
        stream.toDF().toDF("id", "name", "country", "is_delete"),
        holder, Seq("id"), Some("is_delete"), bid => (bid + 1) * 100)
      .start()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id", "valid_from").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    try {
      val b0 = Seq((2L, "bob", "CH", false), (3L, "carol", "FR", false))
      val b1 = Seq((1L, "alice", "US", true), (3L, "carol", "FI", false))
      stream.addData(b0)
      q.processAllAvailable()
      stream.addData(b1)
      q.processAllAvailable()

      var expect = Scd2.initHistory(day0, 0L)
      for ((b, ts) <- Seq(b0 -> 100L, b1 -> 200L))
        expect = Scd2.applyDelta(expect,
          b.toDF("id", "name", "country", "is_delete"), Seq("id"), ts,
          Some("is_delete"))
      assert(snap(holder.history) === snap(expect))
      // spot-check the end state: alice closed by tombstone, bob on v2,
      // carol inserted then versioned
      assert(snap(holder.history) === Seq(
        (1L, "alice", "US", 0L, Some(200L)),
        (2L, "bob", "DE", 0L, Some(100L)),
        (2L, "bob", "CH", 100L, None),
        (3L, "carol", "FR", 100L, Some(200L)),
        (3L, "carol", "FI", 200L, None)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: gap splits, cross-batch close") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val stream = MemoryStream[Sessionize.Click](spark)
    val gapMs = 30 * 60 * 1000L // 30 min
    val q = Sessionize.sessions(
        stream.toDS().withWatermark("ts", "0 seconds"), gapMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    def click(u: String, t: String) = Sessionize.Click(u, ts(t))
    try {
      // batch 1: a has two events 5 min apart (one open session),
      // b has events 2 h apart (first closes in-batch)
      stream.addData(
        click("a", "2024-01-01 10:00:00"), click("a", "2024-01-01 10:05:00"),
        click("b", "2024-01-01 09:00:00"), click("b", "2024-01-01 11:00:00"))
      q.processAllAvailable()
      val afterB1 = spark.table("sessions").as[Sessionize.Session].collect()
      // b's first session closed by its own later event (gap exceeded);
      // a's session closed by EVENT-TIME TIMEOUT: the watermark reached
      // 11:00 (max event time, 0s delay), past its 10:35 timeout
      assert(afterB1.toSet === Set(
        Sessionize.Session("b", ts("2024-01-01 09:00:00"),
          ts("2024-01-01 09:00:00"), 1),
        Sessionize.Session("a", ts("2024-01-01 10:00:00"),
          ts("2024-01-01 10:05:00"), 2)))
      // batch 2: later events advance the watermark past b's open
      // session (end 11:00 + 30min) → it times out and emits
      stream.addData(click("a", "2024-01-01 13:00:00"),
        click("b", "2024-01-01 13:00:00"))
      q.processAllAvailable()
      val afterB2 = spark.table("sessions").as[Sessionize.Session].collect()
      assert(afterB2.toSet.contains(
        Sessionize.Session("b", ts("2024-01-01 11:00:00"),
          ts("2024-01-01 11:00:00"), 1)))
    } finally q.stop()
  }

  test("sessionization: cross-batch LATE events extend, never regress, a session") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val stream = MemoryStream[Sessionize.Click](spark)
    val gapMs = 30 * 60 * 1000L // 30 min
    val q = Sessionize.sessions(
        stream.toDS().withWatermark("ts", "1 hour"), gapMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions").start()
    def click(u: String, t: String) = Sessionize.Click(u, ts(t))
    try {
      // batch 1: open session for c spanning 10:00–10:20
      stream.addData(click("c", "2024-01-01 10:00:00"),
        click("c", "2024-01-01 10:20:00"))
      q.processAllAvailable()
      // batch 2: OUT-OF-ORDER events inside the 1h watermark slack — one
      // inside the open span, one before its start. Both are within the
      // gap of the session end, so they must join the session: the span
      // grows to min/max, never shrinks (the pre-fix code set end=t,
      // moving the session end BACKWARDS).
      stream.addData(click("c", "2024-01-01 10:10:00"),
        click("c", "2024-01-01 09:55:00"))
      q.processAllAvailable()
      // batch 3: unrelated user far in the future pushes the watermark
      // (12:30 - 1h = 11:30) past c's timeout (10:20 + 30min) → emit
      stream.addData(click("d", "2024-01-01 12:30:00"))
      q.processAllAvailable()
      val sessions = spark.table("late_sessions")
        .as[Sessionize.Session].collect().filter(_.user == "c")
      assert(sessions.toSeq === Seq(Sessionize.Session("c",
        ts("2024-01-01 09:55:00"), ts("2024-01-01 10:20:00"), 4)))
    } finally q.stop()
  }

  test("sessionization: disjoint EARLY late event opens its own session") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val stream = MemoryStream[Sessionize.Click](spark)
    val q = Sessionize.sessions(
        stream.toDS().withWatermark("ts", "1 hour"), 30 * 60 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("early_sessions").start()
    def click(u: String, t: String) = Sessionize.Click(u, ts(t))
    try {
      stream.addData(click("c", "2024-01-01 10:00:00"),
        click("c", "2024-01-01 10:20:00"))
      q.processAllAvailable()
      // 09:25 is 35min before the open session's start: within the
      // watermark slack but OUTSIDE the gap — it must NOT merge
      stream.addData(click("c", "2024-01-01 09:25:00"))
      q.processAllAvailable()
      stream.addData(click("d", "2024-01-01 13:00:00")) // flush watermark
      q.processAllAvailable()
      val sessions = spark.table("early_sessions")
        .as[Sessionize.Session].collect().filter(_.user == "c").sortBy(_.start)
      assert(sessions.toSeq === Seq(
        Sessionize.Session("c", ts("2024-01-01 09:25:00"),
          ts("2024-01-01 09:25:00"), 1),
        Sessionize.Session("c", ts("2024-01-01 10:00:00"),
          ts("2024-01-01 10:20:00"), 2)))
    } finally q.stop()
  }

  test("sessionization: a late event BRIDGES two provisional sessions") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val stream = MemoryStream[Sessionize.Click](spark)
    val q = Sessionize.sessions(
        stream.toDS().withWatermark("ts", "1 hour"), 30 * 60 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("bridge_sessions").start()
    def click(u: String, t: String) = Sessionize.Click(u, ts(t))
    try {
      // 10:00 and 10:50 are > gap apart: two provisional sessions — but
      // neither may be emitted yet (a late event could still bridge)
      stream.addData(click("c", "2024-01-01 10:00:00"),
        click("c", "2024-01-01 10:50:00"))
      q.processAllAvailable()
      stream.addData(click("c", "2024-01-01 10:25:00")) // within gap of BOTH
      q.processAllAvailable()
      stream.addData(click("d", "2024-01-01 14:00:00")) // flush watermark
      q.processAllAvailable()
      val sessions = spark.table("bridge_sessions")
        .as[Sessionize.Session].collect().filter(_.user == "c")
      assert(sessions.toSeq === Seq(Sessionize.Session("c",
        ts("2024-01-01 10:00:00"), ts("2024-01-01 10:50:00"), 3)))
    } finally q.stop()
  }

  test("streaming sessionization equals batch session_window on real events") {
    import org.apache.spark.sql.functions._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val gapMs = 30 * 60 * 1000L
    val clicks = graft.queries.Tables.loadEvents(spark, "/root/testdata/sf0.001")
      .select(col("user_id").cast("string").as("user"),
        col("ts").cast("timestamp").as("ts"))
      .as[Sessionize.Click].collect().toSeq
    val flush = Sessionize.Click("zz_flush",
      new Timestamp(clicks.map(_.ts.getTime).max + 10L * gapMs))

    val stream = MemoryStream[Sessionize.Click](spark)
    val q = Sessionize.sessions(
        stream.toDS().withWatermark("ts", "0 seconds"), gapMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("batch_equiv_sessions").start()
    try {
      stream.addData(clicks)
      q.processAllAvailable()
      stream.addData(flush) // advance the watermark → all sessions time out
      q.processAllAvailable()
      val streamed = spark.table("batch_equiv_sessions")
        .as[Sessionize.Session].collect()
        .filter(_.user != "zz_flush")
        .map(s => (s.user, s.start.getTime, s.end.getTime, s.n_events)).toSet
      // batch formulation: session_window end = last event + gap
      val batch = clicks.toDF("user", "ts")
        .groupBy(col("user"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0),
          r.getStruct(1).getTimestamp(0).getTime,
          r.getStruct(1).getTimestamp(1).getTime - gapMs,
          r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join: in-horizon matches, late rows, no leaks") {
    val clicks = MemoryStream[(Long, String, Timestamp)](spark)
    val purchases = MemoryStream[(String, Timestamp, Double)](spark)
    val joined = StreamJoin.withinHorizon(
      clicks.toDF().toDF("event_id", "user", "ts")
        .withWatermark("ts", "1 hour"),
      purchases.toDF().toDF("user", "pts", "value")
        .withWatermark("pts", "1 hour"),
      "user", "ts", "pts", "1 HOUR")
    val q = joined.selectExpr("l.event_id", "r.pts", "r.value")
      .writeStream.outputMode("append")
      .format("memory").queryName("conversions").start()
    try {
      clicks.addData((1L, "a", ts("2024-01-01 10:00:00")),
        (2L, "b", ts("2024-01-01 10:00:00")))
      purchases.addData(("a", ts("2024-01-01 10:30:00"), 5.0), // in horizon
        ("a", ts("2024-01-01 11:30:00"), 7.0), // past horizon
        ("b", ts("2024-01-01 09:30:00"), 9.0)) // before the click
      q.processAllAvailable()
      // a LATE purchase (event time before the stream's max) still inside
      // the watermark slack must join the already-seen click
      purchases.addData(("b", ts("2024-01-01 10:59:00"), 4.0))
      q.processAllAvailable()
      val rows = spark.table("conversions").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(rows === Set(
        (1L, ts("2024-01-01 10:30:00"), 5.0),
        (2L, ts("2024-01-01 10:59:00"), 4.0)))
    } finally q.stop()
  }

  test("stream-stream interval join equals both batch faces on real events") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val ev = graft.queries.Tables.loadEvents(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
    def clicksOf(df: DataFrame) = df.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    def purchasesOf(df: DataFrame) = df.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"))
    def key(df: DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getTimestamp(1).getTime,
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet

    val rows = ev.collect().toSeq
    val stream = MemoryStream[org.apache.spark.sql.Row](spark,
      numPartitions = 4)(org.apache.spark.sql.Encoders.row(ev.schema))
    val streamed = StreamJoin.withinHorizon(
      clicksOf(stream.toDF()).withWatermark("ts", "0 seconds"),
      purchasesOf(stream.toDF()).withWatermark("pts", "0 seconds"),
      "user_id", "ts", "pts", "1 HOUR")
    val q = streamed.selectExpr("l.event_id", "r.pts", "r.value")
      .writeStream.outputMode("append")
      .format("memory").queryName("label_join").start()
    val viaStream = try {
      stream.addData(rows)
      q.processAllAvailable()
      key(spark.table("label_join"))
    } finally q.stop()

    val viaBatch = key(StreamJoin.withinHorizon(
        clicksOf(ev), purchasesOf(ev), "user_id", "ts", "pts", "1 HOUR")
      .selectExpr("l.event_id", "r.pts", "r.value"))
    val viaRange = key(graft.operators.RangeJoin.joinRange(
        clicksOf(ev).withColumn("end_ts", col("ts") + expr("INTERVAL 1 HOUR")),
        purchasesOf(ev), Seq("user_id"), "ts", "end_ts", "pts")
      .select(col("event_id"), col("pts"), col("value")))
    assert(viaStream === viaBatch)
    assert(viaBatch === viaRange)
    assert(viaBatch.nonEmpty)
  }

  test("streaming dedup: duplicate content dropped across batches, bounded state") {
    val stream = MemoryStream[(Timestamp, Long, String)](spark)
    val q = StreamDedup.firstSeen(
        stream.toDF().toDF("ts", "doc_id", "text")
          .withWatermark("ts", "10 minutes"), "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      stream.addData((ts("2024-01-01 10:00:00"), 1L, "alpha"),
        (ts("2024-01-01 10:01:00"), 2L, "beta"),
        (ts("2024-01-01 10:02:00"), 3L, "alpha")) // dup within batch
      q.processAllAvailable()
      stream.addData((ts("2024-01-01 10:03:00"), 4L, "beta"), // dup across batch
        (ts("2024-01-01 10:04:00"), 5L, "gamma"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(kept.toSeq === Seq(1L, 2L, 5L))
    } finally q.stop()
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    val stream = MemoryStream[RunningCounts.Event](spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val q = RunningCounts.perKey(stream.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("runtot").start()
    try {
      stream.addData(RunningCounts.Event("a", 1.0), RunningCounts.Event("a", 2.0),
        RunningCounts.Event("b", 5.0))
      q.processAllAvailable()
      stream.addData(RunningCounts.Event("a", 4.0))
      q.processAllAvailable()
      val byBatch = spark.table("runtot").as[RunningCounts.KeyTotal].collect()
      // latest state per key: a → (3 events, 7.0), b → (1, 5.0)
      val a = byBatch.filter(_.key == "a").maxBy(_.events)
      val b = byBatch.filter(_.key == "b").maxBy(_.events)
      assert(a === RunningCounts.KeyTotal("a", 3L, 7.0))
      assert(b === RunningCounts.KeyTotal("b", 1L, 5.0))
    } finally q.stop()
  }

  test("pii scrub and chunking projections run unchanged on a stream") {
    // both are stateless per-row projections (chunking is a stateless
    // generate), so the batch operators accept streaming frames as-is —
    // documents can be scrubbed and chunked on ingest
    val stream = MemoryStream[(Long, String)](spark)
    val input = stream.toDF().toDF("doc_id", "text")
    val qp = graft.text.PiiScrub.redact(input, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("pii_stream").start()
    val qc = graft.text.Chunker
      .chunks(input, "doc_id", "text", chunkSize = 4, stride = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream").start()
    try {
      stream.addData((1L, "reach me at root@host.example.net today"),
        (2L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"))
      qp.processAllAvailable(); qc.processAllAvailable()
      val pii = spark.table("pii_stream").orderBy("doc_id").collect()
      assert(pii(0).getLong(1) === 1)
      assert(pii(0).getString(4) === "reach me at <EMAIL> today")
      val chunks = spark.table("chunk_stream")
        .filter($"doc_id" === 2L).collect()
      assert(chunks.length === 3)
    } finally { qp.stop(); qc.stop() }
  }

  test("decontamination joins a stream against the static benchmark set") {
    // the benchmark-gram relation is static and broadcast, so the same
    // operator runs as a stream-static join — contamination flags on
    // ingest, no state beyond the running per-doc aggregate
    val eval = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)](spark)
    val q = graft.text.Decontam.overlap(
        stream.toDF().toDF("doc_id", "text"), eval,
        "doc_id", "text", n = 3, minSharedGrams = 2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("decontam_stream").start()
    try {
      stream.addData((1L, "alpha beta gamma delta tail"),
        (2L, "completely unrelated text with no overlap"))
      q.processAllAvailable()
      val out = spark.table("decontam_stream").collect()
      assert(out.map(_.getLong(0)).toSet === Set(1L)) // doc 2 clean → absent
      // shared grams: "alpha beta gamma", "beta gamma delta"
      assert(out.head.getLong(1) === 2 && out.head.getInt(2) === 1)
    } finally q.stop()
  }
}
