package graft.streaming

import graft.SparkTestSession
import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[CowTableSinkProvider]]: table → table streaming with NO
  * foreachBatch glue — the change feed of one CowTable written into
  * another through `writeStream.format(...)`, exactly-once per
  * micro-batch via the Txn stamp.
  */
class CowTableSinkSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def withDir(f: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cts_").toFile
    try f(dir) finally rmrf(dir)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private def pipe(src: String, dst: String, ckpt: String,
      appId: Option[String] = None): Unit = {
    val w = TableChangeFeed.readChanges(spark, src)
      .select("k", "v", "s")
      .writeStream
      .format(classOf[CowTableSinkProvider].getName)
      .option("path", dst)
      .option("statsCols", "k")
      .option("checkpointLocation", ckpt)
    val q = appId.fold(w)(a => w.option("appId", a)).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("format(\"cowtable\") finds the sink by its registered short name") {
    withDir { dir =>
      val dst = dir.getAbsolutePath + "/dst"
      val in = MemoryStream[(Long, Long, String)](spark)
      val q = in.toDF().toDF("k", "v", "s").writeStream
        .format("cowtable")
        .option("path", dst)
        .option("checkpointLocation", dir.getAbsolutePath + "/ck")
        .start()
      try {
        in.addData((1L, 10L, "a"), (2L, 20L, "b")); q.processAllAvailable()
        in.addData((3L, 30L, "c")); q.processAllAvailable()
      } finally q.stop()
      assert(CowTable.read(spark, dst).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
        Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    }
  }

  test("table-to-table pipe: all rows land, replays no-op, waves flow") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/src"
      val dst = dir.getAbsolutePath + "/dst"
      val ckpt = dir.getAbsolutePath + "/ck"
      CowTable.create(spark, src,
        Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"), Seq("k"))
      CowTable.append(spark, src, Seq((3L, 30L, "c")).toDF("k", "v", "s"))
      pipe(src, dst, ckpt, appId = Some("pipe-spec"))
      assert(CowTable.read(spark, dst).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
        Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
      val v = TxLog.latestVersion(spark, dst)

      // under an EXPLICIT stable appId, a fresh checkpoint's replay of
      // the (deterministic-prefix) feed is swallowed by the stamps
      pipe(src, dst, dir.getAbsolutePath + "/ck2", appId = Some("pipe-spec"))
      assert(TxLog.latestVersion(spark, dst) === v)
      assert(CowTable.read(spark, dst).count() === 3)

      // new source commits flow through the SAME checkpoint
      CowTable.append(spark, src, Seq((4L, 40L, "d")).toDF("k", "v", "s"))
      pipe(src, dst, ckpt, appId = Some("pipe-spec"))
      assert(CowTable.read(spark, dst).count() === 4)
    }
  }

  test("stamp identity is per-checkpoint: two queries on one table " +
      "don't swallow each other's batches; no identity is refused") {
    withDir { dir =>
      val srcA = dir.getAbsolutePath + "/srcA"
      val srcB = dir.getAbsolutePath + "/srcB"
      val dst = dir.getAbsolutePath + "/dstAB"
      CowTable.create(spark, srcA,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      CowTable.create(spark, srcB,
        Seq((2L, 20L, "b")).toDF("k", "v", "s"), Seq("k"))
      // both queries run batchId 0 against the same target; the old
      // path-keyed default appId would have dropped the second one's
      // batch 0 as a "replay" (the ADVICE r13 hazard)
      pipe(srcA, dst, dir.getAbsolutePath + "/ckA")
      pipe(srcB, dst, dir.getAbsolutePath + "/ckB")
      assert(CowTable.read(spark, dst).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
        Seq((1L, 10L, "a"), (2L, 20L, "b")))

      // same checkpoint re-drained: nothing new, nothing duplicated
      pipe(srcA, dst, dir.getAbsolutePath + "/ckA")
      assert(CowTable.read(spark, dst).count() === 2)

      // neither appId nor checkpointLocation → loud refusal (a DSv1
      // sink without a checkpoint gets a temp one from Spark, so drive
      // createSink directly)
      val e = intercept[IllegalArgumentException] {
        new CowTableSinkProvider().createSink(spark.sqlContext,
          Map("path" -> dst), Seq.empty,
          org.apache.spark.sql.streaming.OutputMode.Append())
      }
      assert(e.getMessage.contains("stamp identity"), e.getMessage)
    }
  }

  test("a shallow clone's feed streams its external references") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/csrc"
      val cl = dir.getAbsolutePath + "/cclone"
      val dst = dir.getAbsolutePath + "/cdst"
      CowTable.create(spark, src,
        Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"), Seq("k"))
      CowTable.shallowClone(spark, src, cl)
      // the clone commit's adds are ABSOLUTE source paths; the feed
      // must plan and ship them like any commit
      pipe(cl, dst, dir.getAbsolutePath + "/cck")
      assert(CowTable.read(spark, dst).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
        Seq((1L, 10L, "a"), (2L, 20L, "b")))
    }
  }

  test("append-only contract: non-append output modes are refused") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/src2"
      CowTable.create(spark, src,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      val e = intercept[Exception] {
        val q = TableChangeFeed.readChanges(spark, src)
          .select("k", "v", "s")
          .groupBy("k").count()
          .writeStream
          .format(classOf[CowTableSinkProvider].getName)
          .option("path", dir.getAbsolutePath + "/dst2")
          .option("checkpointLocation", dir.getAbsolutePath + "/ck3")
          .outputMode("complete")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(e.getMessage.contains("append-only"), e.getMessage)
    }
  }

  test("conf-resolved stamp identity: a NAMED query under the session " +
      "checkpoint conf works; an unnamed one is still refused") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/srcconf"
      val dst = dir.getAbsolutePath + "/dstconf"
      CowTable.create(spark, src,
        Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"), Seq("k"))
      val confKey = "spark.sql.streaming.checkpointLocation"
      val old = spark.conf.getOption(confKey)
      spark.conf.set(confKey, dir.getAbsolutePath + "/confck")
      try {
        def run(): Unit = {
          val q = TableChangeFeed.readChanges(spark, src)
            .select("k", "v", "s")
            .writeStream
            .format(classOf[CowTableSinkProvider].getName)
            .option("path", dst)
            .queryName("conf_feed_q")   // <confDir>/conf_feed_q = stable
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        run()
        assert(CowTable.read(spark, dst).count() === 2)
        // restart resumes the SAME checkpoint and stamp identity:
        // nothing duplicates, new commits flow
        CowTable.append(spark, src, Seq((3L, 30L, "c")).toDF("k", "v", "s"))
        run()
        assert(CowTable.read(spark, dst).orderBy("k").collect()
          .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
        // unnamed under the conf: Spark would checkpoint into a RANDOM
        // per-start subdir - no stable identity, refused at createSink
        val e = intercept[IllegalArgumentException] {
          new CowTableSinkProvider().createSink(spark.sqlContext,
            Map("path" -> dst), Seq.empty,
            org.apache.spark.sql.streaming.OutputMode.Append())
        }
        assert(e.getMessage.contains("stamp identity"), e.getMessage)
      } finally {
        old match {
          case Some(v) => spark.conf.set(confKey, v)
          case None => spark.conf.unset(confKey)
        }
      }
    }
  }
}
