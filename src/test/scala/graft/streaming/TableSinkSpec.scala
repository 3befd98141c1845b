package graft.streaming

import graft.SparkTestSession
import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink]]: a CDC stream merge-maintained into a [[CowTable]]
  * equals the batch merge of the folded changes, and replayed batches
  * are no-ops (the exactly-once stamp).
  */
class TableSinkSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  // (k, v, del, seq)
  private type Cdc = (Long, String, Boolean, Long)

  private def withTable(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_").toFile
    try f(dir.getAbsolutePath + "/t")
    finally rmrf(dir)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private def contents(path: String): Set[(Long, String)] =
    CowTable.read(spark, path).select("k", "v", "seq").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("streamed CDC merge == folded batch state, per micro-batch") {
    withTable { t =>
      CowTable.create(spark, t,
        Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
          .toDF("k", "v", "seq"), Seq("k"))
      val stream = MemoryStream[Cdc](spark)
      val q = TableSink.mergeSink(
          stream.toDF().toDF("k", "v", "del", "seq"),
          t, Seq("k"), Some("del"), Some("seq"), appId = "spec")
        .start()
      try {
        // b1: update k=1, insert k=10; within-batch double-change on
        // k=2 (seq 5 then 6 — the later one must win).
        stream.addData(Seq[Cdc](
          (1L, "a2", false, 4L), (10L, "x", false, 4L),
          (2L, "b-old", false, 5L), (2L, "b-new", false, 6L)))
        q.processAllAvailable()
        assert(contents(t) === Set(1L -> "a2", 2L -> "b-new",
          3L -> "c", 10L -> "x"))

        // b2: delete k=3, update the batch-1 insert.
        stream.addData(Seq[Cdc](
          (3L, "", true, 7L), (10L, "x2", false, 8L)))
        q.processAllAvailable()
        assert(contents(t) === Set(1L -> "a2", 2L -> "b-new", 10L -> "x2"))
      } finally q.stop()

      // Both batches left their exactly-once stamps in the log.
      assert(TxLog.snapshot(spark, t).txnVersion("spec") === Some(1L))
    }
  }

  test("replayed batch is a no-op (exactly-once stamp)") {
    withTable { t =>
      CowTable.create(spark, t,
        Seq((1L, "a", 0L)).toDF("k", "v", "seq"), Seq("k"))
      val apply = TableSink.applyBatch(t, Seq("k"), Some("del"),
        Some("seq"), "replay-spec") _
      val b = Seq((1L, "a2", false, 1L)).toDF("k", "v", "del", "seq")
      apply(b, 0L)
      val vAfter = TxLog.latestVersion(spark, t)
      assert(contents(t) === Set(1L -> "a2"))

      // Retry of the SAME batch id: no new version, no double apply —
      // even with a conflicting payload (the stamp, not the data,
      // decides).
      apply(Seq((1L, "CLOBBER", false, 9L)).toDF("k", "v", "del", "seq"), 0L)
      assert(TxLog.latestVersion(spark, t) === vAfter)
      assert(contents(t) === Set(1L -> "a2"))

      // The NEXT batch id applies normally.
      apply(Seq((1L, "a3", false, 2L)).toDF("k", "v", "del", "seq"), 1L)
      assert(contents(t) === Set(1L -> "a3"))
    }
  }

  test("a constraint-violating batch fails the sink whole, then recovers") {
    withTable { t =>
      CowTable.create(spark, t,
        Seq((1L, 10L, 0L)).toDF("k", "v", "seq"), Seq("k"))
      CowTable.addConstraint(spark, t, "v_nonneg", "v >= 0")
      val apply = TableSink.applyBatch(t, Seq("k"), None,
        Some("seq"), "cstr-spec") _
      // the bad batch rejects WHOLE — even its valid row doesn't land,
      // and no stamp is recorded, so the FIXED retry of the same batch
      // id is not mistaken for a replay
      val e = intercept[RuntimeException] {
        apply(Seq((1L, 11L, 1L), (2L, -5L, 1L)).toDF("k", "v", "seq"), 0L)
      }
      assert(e.getMessage.contains("v_nonneg"))
      assert(CowTable.read(spark, t).count() === 1)
      assert(TxLog.snapshot(spark, t).txnVersion("cstr-spec").isEmpty)
      apply(Seq((1L, 11L, 1L), (2L, 5L, 1L)).toDF("k", "v", "seq"), 0L)
      assert(CowTable.read(spark, t).count() === 2)
      assert(TxLog.snapshot(spark, t).txnVersion("cstr-spec") === Some(0L))
    }
  }

  test("append sink: batches land once, replay skipped") {
    withTable { t =>
      CowTable.create(spark, t,
        Seq((1L, "a", 0L)).toDF("k", "v", "seq"), Seq("k"))
      val stream = MemoryStream[(Long, String, Long)](spark)
      val q = stream.toDF().toDF("k", "v", "seq").writeStream
        .format(classOf[CowTableSinkProvider].getName)
        .option("path", t).option("appId", "app-spec")
        .option("checkpointLocation", t + "_ck")
        .start()
      try {
        stream.addData(Seq((5L, "e", 1L)))
        q.processAllAvailable()
      } finally q.stop()
      assert(contents(t) === Set(1L -> "a", 5L -> "e"))
      // direct replay of batch 0
      CowTable.append(spark, t, Seq((5L, "DUP", 9L)).toDF("k", "v", "seq"),
        Some(TxLog.Txn("app-spec", 0L)))
      assert(contents(t) === Set(1L -> "a", 5L -> "e"))
    }
  }

  test("two merge sinks on one table, distinct appIds: every batch lands") {
    withTable { t =>
      CowTable.create(spark, t,
        Seq((1L, "a", 0L)).toDF("k", "v", "seq"), Seq("k"))
      val s1 = MemoryStream[Cdc](spark)
      val s2 = MemoryStream[Cdc](spark)
      def sink(s: MemoryStream[Cdc], appId: String) = TableSink.mergeSink(
          s.toDF().toDF("k", "v", "del", "seq"),
          t, Seq("k"), Some("del"), Some("seq"), appId = appId)
        .start()
      val q1 = sink(s1, "feed-a")
      val q2 = sink(s2, "feed-b")
      try {
        // both queries number their batches 0, 1: under one shared
        // stamp namespace the second query's batches would be skipped
        // as replays of the first's
        s1.addData(Seq[Cdc]((2L, "a0", false, 1L)))
        q1.processAllAvailable()
        s2.addData(Seq[Cdc]((3L, "b0", false, 1L)))
        q2.processAllAvailable()
        s1.addData(Seq[Cdc]((1L, "a1", false, 2L)))
        q1.processAllAvailable()
        s2.addData(Seq[Cdc]((4L, "b1", false, 2L)))
        q2.processAllAvailable()
      } finally { q1.stop(); q2.stop() }
      assert(contents(t) === Set(1L -> "a1", 2L -> "a0", 3L -> "b0",
        4L -> "b1"))
      val log = TxLog.snapshot(spark, t)
      assert(log.txnVersion("feed-a") === Some(1L))
      assert(log.txnVersion("feed-b") === Some(1L))
    }
  }

  test("agg sink: streamed folds == recompute of all rows so far") {
    withTable { t =>
      import graft.operators.AggMerge
      import graft.tables.AggTable
      val b1 = Seq((1L, 10.0), (2L, 4.0))
      val b2 = Seq((1L, -2.0), (3L, 7.0))
      AggTable.init(spark, t, b1.toDF("g", "value"), Seq("g"), "value")
      val stream = MemoryStream[(Long, Double)](spark)
      val q = TableSink.aggSink(stream.toDF().toDF("g", "value"),
          t, Seq("g"), "value", appId = "agg-spec")
        .start()
      try {
        stream.addData(b2)
        q.processAllAvailable()
      } finally q.stop()
      val want = AggMerge.aggregate((b1 ++ b2).toDF("g", "value"),
        Seq("g"), "value")
      assert(AggTable.read(spark, t)
        .select("g", "n", "total", "vmin", "vmax")
        .collect().map(_.toSeq).toSet ===
        want.select("g", "n", "total", "vmin", "vmax")
          .collect().map(_.toSeq).toSet)
      // a replay cannot double-count
      graft.tables.AggTable.fold(spark, t, b2.toDF("g", "value"),
        Seq("g"), "value", Some(TxLog.Txn("agg-spec", 0L)))
      assert(AggTable.read(spark, t).agg(sum("n")).collect()(0)
        .getLong(0) === 4L)
    }
  }

  test("checkpointed txn stamps survive the log fold") {
    withTable { t =>
      CowTable.create(spark, t,
        Seq((1L, "a", 0L)).toDF("k", "v", "seq"), Seq("k"))
      // Drive past the checkpoint interval with stamped appends.
      (0 until TxLog.CheckpointInterval + 2).foreach { i =>
        CowTable.append(spark, t,
          Seq((100L + i, s"r$i", i.toLong)).toDF("k", "v", "seq"),
          Some(TxLog.Txn("ckpt-spec", i.toLong)))
      }
      val snap = TxLog.snapshot(spark, t)
      assert(snap.txnVersion("ckpt-spec") ===
        Some((TxLog.CheckpointInterval + 1).toLong))
      // Replay of an old stamped batch folds through the checkpoint.
      CowTable.append(spark, t, Seq((999L, "DUP", 0L)).toDF("k", "v", "seq"),
        Some(TxLog.Txn("ckpt-spec", 3L)))
      assert(!contents(t).exists(_._1 == 999L))
    }
  }
}
