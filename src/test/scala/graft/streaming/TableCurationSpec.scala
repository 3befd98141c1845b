package graft.streaming

import graft.SparkTestSession
import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableCuration]]: a raw ingest table's change feed drives the
  * incremental-dedup screen into a curated table — commits screen in
  * version order against the keeps already admitted, and replays
  * no-op on the Txn stamps. The cross-engine verdict semantics are
  * the `pipeline_feed_curate` oracle's; this spec pins the
  * streaming-specific contracts.
  */
class TableCurationSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def withDir(f: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_").toFile
    try f(dir) finally rmrf(dir)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private def doc(words: Int, salt: String): String =
    (0 until words).map(i => s"$salt$i").mkString(" ")

  private def drain(raw: String, cur: String, ckpt: String): Unit = {
    val q = TableCuration.curateSink(
      TableChangeFeed.readChanges(spark, raw), cur, "doc_id", "text",
      appId = "table-curation")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
  }

  private def ids(cur: String): Set[Long] =
    CowTable.read(spark, cur).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  test("commits screen in version order against earlier keeps") {
    withDir { dir =>
      val raw = dir.getAbsolutePath + "/raw"
      val cur = dir.getAbsolutePath + "/cur"
      val ckpt = dir.getAbsolutePath + "/ck"
      CowTable.create(spark, cur,
        Seq((1L, doc(24, "seed"))).toDF("doc_id", "text"), Seq("doc_id"))
      // v1: B is new; v2: B' near-dups B (one appended token — the
      // planted-pair shape) and C is new. B' must be rejected, which
      // only happens if v1's keep entered the corpus before v2 screened
      // — BOTH commits arrive in one catch-up micro-batch here.
      CowTable.create(spark, raw,
        Seq((2L, doc(24, "bee"))).toDF("doc_id", "text"), Seq("doc_id"))
      CowTable.append(spark, raw,
        Seq((3L, doc(24, "bee") + " zzz"), (4L, doc(24, "sea")))
          .toDF("doc_id", "text"))
      drain(raw, cur, ckpt)
      assert(ids(cur) === Set(1L, 2L, 4L))
      // curated table carries one Txn stamp per screened version
      assert(TxLog.snapshot(spark, cur)
        .txnVersion("table-curation") === Some(2L))
    }
  }

  test("replays no-op: fresh checkpoint, same feed, no re-admission") {
    withDir { dir =>
      val raw = dir.getAbsolutePath + "/raw"
      val cur = dir.getAbsolutePath + "/cur"
      CowTable.create(spark, cur,
        Seq((1L, doc(24, "seed"))).toDF("doc_id", "text"), Seq("doc_id"))
      CowTable.create(spark, raw,
        Seq((2L, doc(24, "bee"))).toDF("doc_id", "text"), Seq("doc_id"))
      drain(raw, cur, dir.getAbsolutePath + "/ck1")
      val v = TxLog.latestVersion(spark, cur)
      // a FRESH checkpoint replays the whole feed; the Txn stamps must
      // skip every version BEFORE paying the screen, leaving the
      // curated log untouched (doc 2 is now an exact dup of itself —
      // re-screening would wrongly reject-or-duplicate it)
      drain(raw, cur, dir.getAbsolutePath + "/ck2")
      assert(TxLog.latestVersion(spark, cur) === v)
      assert(ids(cur) === Set(1L, 2L))
    }
  }

  test("indexed screen == rebuild screen, and the index grows O(batch)") {
    withDir { dir =>
      import graft.dedup.IncrementalDedup
      val spark2 = spark
      Seq("tcur_idx_hashes", "tcur_idx_bands", "tcur_idx_shingles")
        .foreach { t =>
          spark2.sql(s"DROP TABLE IF EXISTS $t")
          val loc = new org.apache.hadoop.fs.Path(
            s"${spark2.conf.get("spark.sql.warehouse.dir")}/$t")
          val fs = loc.getFileSystem(
            spark2.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) { fs.delete(loc, true); () }
        }
      val seed = Seq((1L, doc(24, "seed"))).toDF("doc_id", "text")
      val waves = Seq(
        Seq((2L, doc(24, "bee"))),
        Seq((3L, doc(24, "bee") + " zzz"), (4L, doc(24, "sea"))))
      def runMode(tag: String, idx: Option[String]): Set[Long] = {
        val raw = s"${dir.getAbsolutePath}/raw_$tag"
        val cur = s"${dir.getAbsolutePath}/cur_$tag"
        CowTable.create(spark, cur, seed, Seq("doc_id"))
        idx.foreach(p => IncrementalDedup.writeIndex(
          IncrementalDedup.buildIndex(seed, "doc_id", "text"), p))
        CowTable.create(spark, raw, waves(0).toDF("doc_id", "text"),
          Seq("doc_id"))
        CowTable.append(spark, raw, waves(1).toDF("doc_id", "text"))
        val q = TableCuration.curateSink(
          TableChangeFeed.readChanges(spark, raw), cur, "doc_id", "text",
          appId = "table-curation", indexPrefix = idx)
          .option("checkpointLocation", s"${dir.getAbsolutePath}/ck_$tag")
          .start()
        try q.processAllAvailable() finally q.stop()
        ids(cur)
      }
      val rebuilt = runMode("rb", None)
      val indexed = runMode("ix", Some("tcur_idx"))
      assert(indexed === rebuilt)
      assert(indexed === Set(1L, 2L, 4L)) // 3 near-dups the admitted 2
      // the index absorbed exactly the admitted keeps (1 seed + 2)
      assert(spark.table("tcur_idx_shingles").count() === 3L)
    }
  }

  test("deleteCurated keeps the screen honest: a deleted doc's " +
      "near-dup re-admits through the indexed loop") {
    withDir { dir =>
      import graft.dedup.IncrementalDedup
      import org.apache.spark.sql.functions.col
      val pfx = "tcur_del_idx"
      Seq(s"${pfx}_hashes", s"${pfx}_bands", s"${pfx}_shingles",
        s"${pfx}_dead", s"${pfx}_hashes_del").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$t")
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) { fs.delete(loc, true); () }
      }
      val cur = s"${dir.getAbsolutePath}/cur_del"
      val seed = Seq((1L, doc(24, "bee")), (2L, doc(24, "sea")))
        .toDF("doc_id", "text")
      CowTable.create(spark, cur, seed, Seq("doc_id"))
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(seed, "doc_id", "text"), pfx)
      def curateWave(tag: String, docs: Seq[(Long, String)]): Set[Long] = {
        val raw = s"${dir.getAbsolutePath}/raw_$tag"
        CowTable.create(spark, raw, docs.toDF("doc_id", "text"),
          Seq("doc_id"))
        // one appId PER FEED: batchIds/source versions are scoped to
        // a feed, so two raw tables feeding one curated table must not
        // share a stamp namespace (the curateSink scaladoc contract)
        val q = TableCuration.curateSink(
          TableChangeFeed.readChanges(spark, raw), cur, "doc_id", "text",
          indexPrefix = Some(pfx), appId = s"cur-$tag")
          .option("checkpointLocation", s"${dir.getAbsolutePath}/ckd_$tag")
          .start()
        try q.processAllAvailable() finally q.stop()
        ids(cur)
      }
      // doc 1 alive: its near-dup is rejected by the loop
      assert(curateWave("w1", Seq((10L, doc(24, "bee") + " zzz"))) ===
        Set(1L, 2L))
      // delete doc 1 THROUGH the loop's deletion path
      val m = TableCuration.deleteCurated(spark, cur,
        col("doc_id") === 1L, "doc_id", "text", Some(pfx))
      assert(m.rowsBefore - m.rowsAfter === 1L)
      assert(ids(cur) === Set(2L))
      // the same near-dup now ADMITS (stale index rows would reject)
      assert(curateWave("w2", Seq((11L, doc(24, "bee") + " zzz"))) ===
        Set(2L, 11L))
      // and the survivor still screens
      assert(curateWave("w3", Seq((12L, doc(24, "sea") + " qqq"))) ===
        Set(2L, 11L))
    }
  }

  test("rate-limited catch-up curates version-by-version, same result") {
    withDir { dir =>
      val raw = dir.getAbsolutePath + "/raw"
      val cur = dir.getAbsolutePath + "/cur"
      val ckpt = dir.getAbsolutePath + "/ck"
      CowTable.create(spark, cur,
        Seq((1L, doc(24, "seed"))).toDF("doc_id", "text"), Seq("doc_id"))
      CowTable.create(spark, raw,
        Seq((2L, doc(24, "bee"))).toDF("doc_id", "text"), Seq("doc_id"))
      CowTable.append(spark, raw,
        Seq((3L, doc(24, "bee") + " zzz"), (4L, doc(24, "sea")))
          .toDF("doc_id", "text"))
      // one commit per micro-batch instead of one catch-up batch —
      // the bounded-catch-up discipline composed with the screen
      val q = TableCuration.curateSink(
        TableChangeFeed.readChanges(spark, raw,
          maxVersionsPerTrigger = Some(1)),
        cur, "doc_id", "text", appId = "table-curation")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      assert(ids(cur) === Set(1L, 2L, 4L))
      assert(TxLog.snapshot(spark, cur)
        .txnVersion("table-curation") === Some(2L))
    }
  }

  test("checkpoint restart screens only the new commits") {
    withDir { dir =>
      val raw = dir.getAbsolutePath + "/raw"
      val cur = dir.getAbsolutePath + "/cur"
      val ckpt = dir.getAbsolutePath + "/ck"
      CowTable.create(spark, cur,
        Seq((1L, doc(24, "seed"))).toDF("doc_id", "text"), Seq("doc_id"))
      CowTable.create(spark, raw,
        Seq((2L, doc(24, "bee"))).toDF("doc_id", "text"), Seq("doc_id"))
      drain(raw, cur, ckpt)
      // while the stream is down: an exact dup of an admitted keep and
      // a new doc land in the raw table
      CowTable.append(spark, raw,
        Seq((5L, doc(24, "bee")), (6L, doc(24, "new")))
          .toDF("doc_id", "text"))
      drain(raw, cur, ckpt)
      assert(ids(cur) === Set(1L, 2L, 6L))
      assert(TxLog.snapshot(spark, cur)
        .txnVersion("table-curation") === Some(2L))
    }
  }

  test("scoped cache release: a user-cached frame survives curation " +
      "micro-batches (no blanket clearCache - ADVICE r14)") {
    withDir { dir =>
      val raw = dir.getAbsolutePath + "/rawcc"
      val cur = dir.getAbsolutePath + "/curcc"
      val seed = Seq((1L, doc(30, "s"))).toDF("doc_id", "text")
      CowTable.create(spark, cur, seed, Seq("doc_id"))
      CowTable.create(spark, raw,
        Seq((2L, doc(30, "t")), (3L, doc(30, "s"))).toDF("doc_id", "text"),
        Seq("doc_id"))
      val user = spark.range(1000).selectExpr("id", "id * 2 as d").persist()
      assert(user.count() === 1000L) // materialize the cache
      drain(raw, cur, dir.getAbsolutePath + "/ckcc")
      assert(ids(cur) === Set(1L, 2L), "curation semantics unchanged")
      assert(user.storageLevel.useMemory,
        "the stream dropped a USER-cached relation (blanket clearCache)")
      user.unpersist(blocking = false)
      ()
    }
  }
}
