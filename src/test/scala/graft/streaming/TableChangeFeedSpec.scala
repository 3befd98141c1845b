package graft.streaming

import graft.SparkTestSession
import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableChangeFeed]]: the table's commit log as a streaming source —
  * the streamed feed must equal the CONCATENATION of
  * [[CowTable.changesAt]] across the commit range (the MemoryStream-
  * style identity the round-11 verdict asked for), restarts must
  * resume from the checkpointed version, and `startingVersion` must
  * skip history.
  */
class TableChangeFeedSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def withDir(f: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cf_").toFile
    try f(dir) finally rmrf(dir)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private def rows(df: DataFrame): Set[(Long, Long, String, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getLong(3), r.getString(4))).toSet

  /** Drain the feed into a buffer via foreachBatch (checkpointed). */
  private def drain(feed: DataFrame, ckpt: String,
      into: scala.collection.mutable.Set[(Long, Long, String, Long, String)])
      : Unit = {
    val q = feed.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        into.synchronized { into ++= rows(b) }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  test("format(\"cowtable-changes\") finds the source by its registered short name") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val in = MemoryStream[(Long, Long, String)](spark)
      val w = in.toDF().toDF("k", "v", "s").writeStream
        .format(classOf[CowTableSinkProvider].getName)
        .option("path", t)
        .option("checkpointLocation", dir.getAbsolutePath + "/ck0")
        .start()
      try {
        in.addData((1L, 10L, "a"), (2L, 20L, "b")); w.processAllAvailable()
        in.addData((3L, 30L, "c")); w.processAllAvailable()
      } finally w.stop()
      val got = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(spark.readStream.format("cowtable-changes").option("path", t)
        .load(), dir.getAbsolutePath + "/ck1", got)
      val want = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(TableChangeFeed.readChanges(spark, t),
        dir.getAbsolutePath + "/ck2", want)
      assert(got.map(r => (r._1, r._2, r._3)) ===
        Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
      assert(got === want)
    }
  }

  test("streamed feed == concatenated changesAt across commits") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"), Seq("k"))
      CowTable.append(spark, t, Seq((3L, 30L, "c")).toDF("k", "v", "s"))
      // a merge too: its adds include rewritten survivors — the feed
      // must surface exactly what changesAt reports for that commit
      CowTable.merge(spark, t,
        Seq((2L, 21L, "b2"), (4L, 40L, "d")).toDF("k", "v", "s"), Seq("k"))

      val got = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(TableChangeFeed.readChanges(spark, t),
        dir.getAbsolutePath + "/ck1", got)

      val expect = (1L to 3L).flatMap { v =>
        val op = TxLog.commitAt(spark, t, v).op
        CowTable.changesAt(spark, t, v).collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getString(2), v, op))
      }.toSet
      assert(got.toSet === expect)
      assert(got.map(_._5) === Set("create", "append", "merge"))
    }
  }

  test("restart resumes from the checkpoint; new commits only") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val ckpt = dir.getAbsolutePath + "/ck"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      CowTable.append(spark, t, Seq((2L, 20L, "b")).toDF("k", "v", "s"))

      val got1 = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(TableChangeFeed.readChanges(spark, t), ckpt, got1)
      assert(got1.map(_._4) === Set(1L, 2L))

      // Two more commits while the stream is DOWN; the restarted query
      // (same checkpoint) must emit exactly versions 3 and 4.
      CowTable.append(spark, t, Seq((3L, 30L, "c")).toDF("k", "v", "s"))
      CowTable.append(spark, t, Seq((4L, 40L, "d")).toDF("k", "v", "s"))
      val got2 = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(TableChangeFeed.readChanges(spark, t), ckpt, got2)
      assert(got2.map(_._4) === Set(3L, 4L))
      assert(got2.map(r => (r._1, r._2, r._3)) ===
        Set((3L, 30L, "c"), (4L, 40L, "d")))
    }
  }

  test("startingVersion skips history; pre-start table yields no rows") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      CowTable.append(spark, t, Seq((2L, 20L, "b")).toDF("k", "v", "s"))
      val got = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(TableChangeFeed.readChanges(spark, t, startingVersion = 2L),
        dir.getAbsolutePath + "/ck2", got)
      assert(got.map(_._4) === Set(2L))
      assert(got.map(_._1) === Set(2L))
    }
  }

  test("maxVersionsPerTrigger bounds catch-up micro-batches") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      (2 to 4).foreach(i => CowTable.append(spark, t,
        Seq((i.toLong, i * 10L, s"r$i")).toDF("k", "v", "s")))

      val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q = TableChangeFeed
        .readChanges(spark, t, maxVersionsPerTrigger = Some(1))
        .writeStream
        .option("checkpointLocation", dir.getAbsolutePath + "/ckr")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val vs = b.select(TableChangeFeed.VersionCol).collect()
            .map(_.getLong(0)).toSet
          perBatch.synchronized { perBatch += vs }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()

      // a 4-commit catch-up arrives as 4 one-version batches, in order
      val nonEmpty = perBatch.filter(_.nonEmpty)
      assert(nonEmpty.forall(_.size === 1),
        s"a batch spanned versions: $perBatch")
      assert(nonEmpty.map(_.head).toSeq === Seq(1L, 2L, 3L, 4L))
    }
  }

  test("startingTimestamp: the feed begins at the first commit at or " +
      "after the instant; a future instant ships only new commits") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/tts"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      Thread.sleep(15)
      CowTable.append(spark, t, Seq((2L, 20L, "b")).toDF("k", "v", "s"))
      val ts2 = TxLog.commitAt(spark, t, 2L).ts.get
      // from commit 2's instant: only commit 2 ships
      val got = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(TableChangeFeed.readChanges(spark, t,
          startingTimestamp = Some(ts2)),
        dir.getAbsolutePath + "/ckt1", got)
      assert(got.map(_._1) === Set(2L))
      // from the far future: nothing yet; a NEW commit then ships
      val got2 = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      val feed = TableChangeFeed.readChanges(spark, t,
        startingTimestamp = Some(ts2 + 1))
      drain(feed, dir.getAbsolutePath + "/ckt2", got2)
      assert(got2.isEmpty)
      CowTable.append(spark, t, Seq((3L, 30L, "c")).toDF("k", "v", "s"))
      drain(feed, dir.getAbsolutePath + "/ckt2", got2)
      assert(got2.map(_._1) === Set(3L))
    }
  }

  test("failOnSchemaEvolution: the loud mode dies at the evolution " +
      "commit; the default keeps silently dropping") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/tfail"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      val feedLoud = TableChangeFeed.readChanges(spark, t,
        failOnSchemaEvolution = true)
      val feedSilent = TableChangeFeed.readChanges(spark, t)
      CowTable.append(spark, t,
        Seq((2L, 20L, "b", 1.5)).toDF("k", "v", "s", "w"),
        mergeSchema = true)
      // loud mode: the stream FAILS at the evolution commit instead of
      // silently dropping the new column
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = feedLoud.writeStream
          .option("checkpointLocation", dir.getAbsolutePath + "/ckl")
          .foreachBatch { (_: DataFrame, _: Long) => () }.start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(e.getMessage.contains("restart the stream") ||
        Option(e.getCause).exists(_.getMessage.contains("restart the stream")),
        e.getMessage)
      // default mode: rows flow, the column drops — the documented trade
      val got = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(feedSilent, dir.getAbsolutePath + "/cks", got)
      assert(got.map(_._1) === Set(1L, 2L))

      // a post-pin DROP also trips the loud mode: the pinned column
      // would otherwise silently flip to typed nulls mid-stream
      val t3 = dir.getAbsolutePath + "/tdrop"
      CowTable.create(spark, t3,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      val loud3 = TableChangeFeed.readChanges(spark, t3,
        failOnSchemaEvolution = true)
      CowTable.dropColumn(spark, t3, "v")
      CowTable.append(spark, t3, Seq((2L, "b")).toDF("k", "s"))
      val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = loud3.writeStream
          .option("checkpointLocation", dir.getAbsolutePath + "/ckdrop")
          .foreachBatch { (_: DataFrame, _: Long) => () }.start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(e3.getMessage.contains("dropped pinned column") ||
        Option(e3.getCause).exists(
          _.getMessage.contains("dropped pinned column")), e3.getMessage)

      // a RENAME never trips the loud mode (physical name unchanged —
      // the pinned read surfaces it transparently); further rows flow
      val t2 = dir.getAbsolutePath + "/tren"
      CowTable.create(spark, t2,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      val loud2 = TableChangeFeed.readChanges(spark, t2,
        failOnSchemaEvolution = true)
      CowTable.renameColumn(spark, t2, "v", "amount")
      CowTable.append(spark, t2, Seq((2L, 20L, "b"))
        .toDF("k", "amount", "s"))
      val got2 = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(loud2, dir.getAbsolutePath + "/ckr", got2)
      assert(got2.map(r => (r._1, r._2)) === Set((1L, 10L), (2L, 20L)))
    }
  }

  test("loud mode never trips on HISTORY: a pre-pin drop catches up " +
      "fine (only post-pin evolution commits can fail the stream)") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/thist"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      CowTable.append(spark, t, Seq((2L, 20L, "b")).toDF("k", "v", "s"))
      CowTable.dropColumn(spark, t, "v")
      CowTable.append(spark, t, Seq((3L, "c")).toDF("k", "s"))
      // the stream pins the POST-drop schema; its catch-up crosses the
      // create/append commits whose DDL still holds the dropped column
      // — history, not evolution: must flow, not die with restart
      // advice a restart cannot follow
      val feed = TableChangeFeed.readChanges(spark, t,
        failOnSchemaEvolution = true)
      assert(feed.columns.take(2).toSeq === Seq("k", "s"))
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = feed.writeStream
        .option("checkpointLocation", dir.getAbsolutePath + "/ckh")
        .foreachBatch { (b: DataFrame, _: Long) =>
          got.synchronized {
            got ++= b.select("k").collect().map(_.getLong(0)) }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(got.toSet === Set(1L, 2L, 3L))
    }
  }

  test("catch-up across a rename is physical-name transparent: " +
      "pre-rename commits surface VALUES under the pinned name") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/tcat"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"), Seq("k"))
      CowTable.append(spark, t, Seq((3L, 30L, "c")).toDF("k", "v", "s"))
      CowTable.renameColumn(spark, t, "v", "amount")
      CowTable.append(spark, t, Seq((4L, 40L, "d"))
        .toDF("k", "amount", "s"))
      // the stream pins the POST-rename schema and catches up from v1:
      // the pre-rename commits' values must arrive under "amount" —
      // conforming by logical name would null them out
      val feed = TableChangeFeed.readChanges(spark, t)
      assert(feed.columns.take(3).toSeq === Seq("k", "amount", "s"))
      val got = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(feed, dir.getAbsolutePath + "/ckc", got)
      assert(got.map(r => (r._1, r._2)) ===
        Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    }
  }

  test("schema evolution mid-stream: pinned schema, nulls backfill") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      CowTable.create(spark, t,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      // feed created against the 3-column schema
      val feed = TableChangeFeed.readChanges(spark, t)
      assert(feed.columns.toSeq ===
        Seq("k", "v", "s", "_commit_version", "_commit_op"))
      // evolve AFTER stream creation: the new column is dropped from
      // this stream's batches (pinned schema); rows still arrive
      CowTable.append(spark, t,
        Seq((2L, 20L, "b", 1.5)).toDF("k", "v", "s", "w"),
        mergeSchema = true)
      val got = scala.collection.mutable.Set
        .empty[(Long, Long, String, Long, String)]
      drain(feed, dir.getAbsolutePath + "/ck3", got)
      assert(got.map(r => (r._1, r._4)) === Set((1L, 1L), (2L, 2L)))

      // a FRESH stream sees the evolved schema, with pre-evolution
      // commits backfilling the new column as null
      val feed2 = TableChangeFeed.readChanges(spark, t)
      assert(feed2.columns.contains("w"))
      val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Any)]
      val q = feed2.writeStream
        .option("checkpointLocation", dir.getAbsolutePath + "/ck4")
        .foreachBatch { (b: DataFrame, _: Long) =>
          all.synchronized {
            all ++= b.select("k", "w").collect()
              .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1)))
          }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(all.toSet === Set[(Long, Any)]((1L, null), (2L, 1.5)))
    }
  }

  test("scoped CDC (whereKeys): predicate EXITS ship as delete " +
      "markers; plain where drops them (the r14 hole, closed)") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/scoped"
      CowTable.create(spark, t,
        Seq((1L, 10L, "in"), (2L, 20L, "in"), (3L, 30L, "out"))
          .toDF("k", "v", "s"), Seq("k"))
      // k=1 leaves the predicate, k=2 stays in (value update),
      // k=3 enters it
      CowTable.merge(spark, t,
        Seq((1L, 11L, "out"), (2L, 22L, "in"), (3L, 33L, "in"))
          .toDF("k", "v", "s"),
        Seq("k"), cdc = true)
      def drainCdc(feed: DataFrame): Seq[(Long, String)] = {
        val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
        val q = feed.writeStream
          .option("checkpointLocation",
            dir.getAbsolutePath + s"/ck${buf.hashCode}")
          .foreachBatch { (b: DataFrame, _: Long) =>
            buf.synchronized {
              buf ++= b.filter(col(TableChangeFeed.VersionCol) === 2L)
                .select(col("k"), col(CowTable.ChangeTypeCol)).collect()
                .map(r => (r.getLong(0), r.getString(1)))
            }
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        buf.toSeq
      }
      val scoped = drainCdc(TableChangeFeed.readCdc(spark, t,
        where = Some("s = 'in'"), whereKeys = Seq("k")))
      // the EXIT (k=1) arrives as a delete marker; the stay-in update
      // ships pre+post; the entry (k=3) ships its in-scope postimage
      assert(scoped.contains((1L, "delete")),
        s"exit row must ship as a delete marker, got $scoped")
      assert(scoped.contains((2L, "update_postimage")))
      assert(scoped.contains((3L, "update_postimage")))
      assert(!scoped.contains((1L, "update_postimage")),
        "the out-of-scope postimage itself must not ship")
      // plain where (no keys): the exit vanishes entirely - the
      // documented non-replica mode
      val plain = drainCdc(TableChangeFeed.readCdc(spark, t,
        where = Some("s = 'in'")))
      assert(!plain.exists(_._1 == 1L),
        s"plain where must drop the exit row whole, got $plain")
      // end-to-end: a replica over the SCOPED feed with no filter of
      // its own equals source.filter(where)
      val dst = dir.getAbsolutePath + "/scopedrep"
      val q = TableSink.replicaSink(
        TableChangeFeed.readCdc(spark, t,
          where = Some("s = 'in'"), whereKeys = Seq("k")),
        dst, Seq("k"), appId = "table-replica")
        .option("checkpointLocation", dir.getAbsolutePath + "/ckrep")
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(CowTable.read(spark, dst).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
        CowTable.read(spark, t).filter(col("s") === "in").orderBy("k")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
    }
  }

  test("CDC catch-up across a NESTED rename conforms structs to the " +
      "pinned inner names (review r15: incompatible-struct wedge)") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/cdcnested"
      def row(k: Long, cust: Long, amount: Double) =
        Seq((k, cust, amount)).toDF("k", "cust", "amount")
          .select(col("k"), struct(col("cust"), col("amount")).as("meta"))
      CowTable.create(spark, t, row(1L, 10L, 1.5), Seq("k"))        // v1
      CowTable.merge(spark, t, row(1L, 10L, 2.5), Seq("k"),
        cdc = true)                                                  // v2
      CowTable.renameColumn(spark, t, "meta.amount", "price")        // v3
      CowTable.merge(spark, t, row(2L, 20L, 9.0)
        .select(col("k"), col("meta").cast("struct<cust:bigint," +
          "price:double>").as("meta")), Seq("k"), cdc = true)        // v4
      // a replica bootstrapping from v1 spans the rename: the union
      // of pre- and post-rename CDC frames must conform, not wedge
      val buf = scala.collection.mutable.ArrayBuffer[
        (Long, Double, String, Long)]()
      val q = TableChangeFeed.readCdc(spark, t)
        .writeStream
        .option("checkpointLocation", dir.getAbsolutePath + "/ckn")
        .foreachBatch { (b: DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.select(col("k"), col("meta.price"),
              col(CowTable.ChangeTypeCol),
              col(TableChangeFeed.VersionCol)).collect()
              .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
                r.getLong(3)))
          }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      // pre-rename sidecar values surface under the PINNED inner name
      assert(buf.contains((1L, 1.5, "update_preimage", 2L)), buf.toSeq)
      assert(buf.contains((1L, 2.5, "update_postimage", 2L)))
      assert(buf.contains((2L, 9.0, "insert", 4L)))
    }
  }

  test("CDC catch-up across nested ADD and DROP conforms by parquet " +
      "name-clipping: pre-add commits surface nulls, dropped fields " +
      "vanish, no shape wedge (round 16)") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/cdcshape"
      def m(cust: Long, amount: Double) =
        struct(lit(cust).as("cust"), lit(amount).as("amount"))
      CowTable.create(spark, t, spark.range(1)
        .select(lit(1L).as("k"), m(10L, 1.5).as("meta")), Seq("k")) // v1
      CowTable.merge(spark, t, spark.range(1)
        .select(lit(1L).as("k"), m(10L, 2.5).as("meta")), Seq("k"),
        cdc = true)                                                  // v2
      CowTable.addColumn(spark, t, "meta.bonus", "BIGINT")           // v3
      CowTable.merge(spark, t, spark.range(1)
        .select(lit(2L).as("k"), struct(lit(20L).as("cust"),
          lit(9.0d).as("amount"), lit(77L).as("bonus")).as("meta")),
        Seq("k"), cdc = true)                                        // v4
      CowTable.dropColumn(spark, t, "meta.amount")                   // v5
      CowTable.merge(spark, t, spark.range(1)
        .select(lit(3L).as("k"), struct(lit(30L).as("cust"),
          lit(88L).as("bonus")).as("meta")), Seq("k"), cdc = true)   // v6
      // a replica bootstrapping from v1 spans BOTH shape changes: the
      // head-pinned schema is struct<cust, bonus>
      val buf = scala.collection.mutable.ArrayBuffer[
        (Long, Long, Option[Long], String, Long)]()
      val q = TableChangeFeed.readCdc(spark, t)
        .writeStream
        .option("checkpointLocation", dir.getAbsolutePath + "/cks")
        .foreachBatch { (b: DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.select(col("k"), col("meta.cust"),
              col("meta.bonus"), col(CowTable.ChangeTypeCol),
              col(TableChangeFeed.VersionCol)).collect()
              .map(r => (r.getLong(0), r.getLong(1),
                if (r.isNullAt(2)) None else Some(r.getLong(2)),
                r.getString(3), r.getLong(4)))
          }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      // pre-add sidecar rows: bonus conforms as null; dropped amount
      // never surfaces (the pinned shape has no such field)
      assert(buf.contains((1L, 10L, None, "update_preimage", 2L)),
        buf.toSeq)
      assert(buf.contains((1L, 10L, None, "update_postimage", 2L)))
      assert(buf.contains((2L, 20L, Some(77L), "insert", 4L)))
      assert(buf.contains((3L, 30L, Some(88L), "insert", 6L)))
    }
  }

  test("legacy CDC sidecars (commit-time LOGICAL names on disk) still " +
      "conform exactly across a rename — the format sniff") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/cdclegacy"
      CowTable.create(spark, t,
        Seq((1L, 10L, 1.5)).toDF("k", "cust", "amount"), Seq("k")) // v1
      CowTable.renameColumn(spark, t, "amount", "price")           // v2
      CowTable.merge(spark, t,
        Seq((1L, 10L, 2.5)).toDF("k", "cust", "price"), Seq("k"),
        cdc = true)                                                 // v3
      // simulate a PRE-round-16 sidecar: rewrite it under the
      // commit-time LOGICAL names (the old writer's format) — the new
      // format carries the PHYSICAL name `amount`
      val cdcDir = TxLog.commitAt(spark, t, 3L).cdcDir.get
      val loc = s"$t/$cdcDir"
      val raw = spark.read.parquet(loc).collect()
      val legacy = spark.createDataFrame(
        spark.sparkContext.parallelize(raw.toSeq, 1),
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, cust BIGINT, price DOUBLE, _change_type STRING"))
      legacy.write.mode("overwrite").parquet(loc)
      assert(spark.read.parquet(loc).columns.contains("price"))
      // changesCdcAt sniffs the format and surfaces logical names
      val got = CowTable.changesCdcAt(spark, t, 3L)
        .select("k", "price", CowTable.ChangeTypeCol).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      assert(got === Set((1L, 1.5, "update_preimage"),
        (1L, 2.5, "update_postimage")))
      // and the pinned feed conforms the legacy sidecar too
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      val q = TableChangeFeed.readCdc(spark, t)
        .writeStream
        .option("checkpointLocation", dir.getAbsolutePath + "/ckl")
        .foreachBatch { (b: DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.filter(col(CowTable.ChangeTypeCol) ===
              "update_postimage")
              .select(col("k"), col("price")).collect()
              .map(r => (r.getLong(0), r.getDouble(1)))
          }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(buf.toSet === Set((1L, 2.5)))
    }
  }

  test("scoped-replica property: random merges crossing the predicate " +
      "both ways, replica ≡ source.filter(where) after every drain") {
    withDir { dir =>
      val t = dir.getAbsolutePath + "/scopedprop"
      val dst = dir.getAbsolutePath + "/scopedprop_dst"
      val ckpt = dir.getAbsolutePath + "/scopedprop_ck"
      val rnd = new scala.util.Random(1515)
      def someRows(n: Int): Seq[(Long, Long, String, Boolean)] =
        (0 until n).map { _ =>
          (rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong,
            if (rnd.nextBoolean()) "in" else "out",
            rnd.nextInt(6) == 0) // occasional tombstone
        }
      CowTable.create(spark, t,
        someRows(20).map(r => (r._1, r._2, r._3)).distinct
          .groupBy(_._1).map(_._2.head).toSeq
          .toDF("k", "v", "s"), Seq("k"))
      val q = TableSink.replicaSink(
        TableChangeFeed.readCdc(spark, t,
          where = Some("s = 'in'"), whereKeys = Seq("k")),
        dst, Seq("k"), appId = "table-replica")
        .option("checkpointLocation", ckpt).start()
      try {
        (1 to 6).foreach { _ =>
          val batch = someRows(14).groupBy(_._1).map(_._2.head).toSeq
          CowTable.merge(spark, t,
            batch.toDF("k", "v", "s", "del"),
            Seq("k"), deleteCol = Some("del"), cdc = true)
          q.processAllAvailable()
          val want = CowTable.read(spark, t).filter(col("s") === "in")
            .orderBy("k").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
          val got = CowTable.read(spark, dst).orderBy("k").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
          assert(got === want,
            "scoped replica diverged from source.filter(where)")
        }
      } finally q.stop()
    }
  }
}
