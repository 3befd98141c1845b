package graft.streaming

import graft.SparkTestSession
import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.replicaSink]]: a CDC feed folded into an exact copy — replica ≡
  * source after every drain, across every row-changing op, with
  * layout-only commits correctly invisible and replays no-ops.
  */
class TableReplicaSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def withDir(f: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_repl_").toFile
    try f(dir) finally rmrf(dir)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private def contents(path: String): Set[(Long, Long, String)] =
    CowTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def drain(src: String, dst: String, ckpt: String,
      where: Option[String] = None): Unit = {
    val q = TableSink.replicaSink(
      TableChangeFeed.readCdc(spark, src), dst, Seq("k"),
      appId = "table-replica", where = where)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("a shallow clone replicates: its commit arrives as inserts") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/csrc"
      val cl = dir.getAbsolutePath + "/ccl"
      val dst = dir.getAbsolutePath + "/cdst"
      CowTable.create(spark, src,
        Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"), Seq("k"))
      CowTable.shallowClone(spark, src, cl)
      // post-clone divergence must flow too
      CowTable.merge(spark, cl, Seq((3L, 30L, "c", false))
        .toDF("k", "v", "s", "del"), Seq("k"), Some("del"), cdc = true)
      drain(cl, dst, dir.getAbsolutePath + "/cck")
      assert(contents(dst) === contents(cl))
      assert(contents(dst) ===
        Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    }
  }

  test("filtered replica: predicate exits evict, re-entries re-admit") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/fsrc"
      val dst = dir.getAbsolutePath + "/fdst"
      val ckpt = dir.getAbsolutePath + "/fck"
      val P = Some("v < 100")
      CowTable.create(spark, src,
        Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 500L, "big"))
          .toDF("k", "v", "s"), Seq("k"))                        // v1
      drain(src, dst, ckpt, P)
      // 3 never belonged: its insert must no-op, not land-then-hide
      assert(contents(dst) === Set((1L, 10L, "a"), (2L, 20L, "b")))
      // move 2 OUT of the slice, 3 INTO it, delete 1, insert 4 (in)
      CowTable.merge(spark, src, Seq(
          (2L, 900L, "b-out", false),
          (3L, 50L, "big-in", false),
          (1L, 0L, "", true),
          (4L, 40L, "d", false))
        .toDF("k", "v", "s", "del"), Seq("k"), Some("del"),
        cdc = true)                                              // v2
      drain(src, dst, ckpt, P)
      assert(contents(dst) === Set((3L, 50L, "big-in"), (4L, 40L, "d")))
      assert(contents(dst) === CowTable.read(spark, src)
        .filter(col("v") < 100).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
    }
  }

  test("replica == source across merge/append/update/delete/compact") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/src"
      val dst = dir.getAbsolutePath + "/dst"
      val ckpt = dir.getAbsolutePath + "/ck"

      CowTable.create(spark, src,
        Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
          .toDF("k", "v", "s"), Seq("k"))                       // v1
      CowTable.merge(spark, src, Seq(
          (2L, 21L, "b2", false),   // update
          (3L, 0L, "", true),       // delete
          (4L, 40L, "d", false))    // insert
        .toDF("k", "v", "s", "del"), Seq("k"), Some("del"),
        cdc = true)                                             // v2
      drain(src, dst, ckpt)
      assert(contents(dst) === contents(src))

      // more commits while the stream is down, then a second drain —
      // including a METADATA-ONLY commit (constraint add), which must
      // pass through the CDC feed silently, not fail it
      CowTable.addConstraint(spark, src, "v_nonneg", "v >= 0")
      CowTable.append(spark, src,
        Seq((5L, 50L, "e")).toDF("k", "v", "s"))                // v3
      CowTable.updateWhere(spark, src, col("k") === 1L,
        Map("v" -> lit(11L)), cdc = true)                       // v4
      CowTable.deleteWhere(spark, src, col("k") === 4L,
        cdc = true)                                             // v5
      CowTable.compact(spark, src, Long.MaxValue, 1)            // v6: silent
      drain(src, dst, ckpt)
      assert(contents(dst) === contents(src))
      assert(contents(dst) ===
        Set((1L, 11L, "a"), (2L, 21L, "b2"), (5L, 50L, "e")))

      // replay from the same checkpoint: Txn stamps no-op everything
      val versions = TxLog.latestVersion(spark, dst)
      drain(src, dst, ckpt)
      assert(TxLog.latestVersion(spark, dst) === versions)
      assert(contents(dst) === contents(src))
    }
  }

  test("within-batch key churn resolves latest-commit-wins") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/src"
      val dst = dir.getAbsolutePath + "/dst"
      CowTable.create(spark, src,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))      // v1
      // same key churned across THREE commits, all in one catch-up
      CowTable.merge(spark, src, Seq((1L, 11L, "a2", false))
        .toDF("k", "v", "s", "del"), Seq("k"), Some("del"),
        cdc = true)                                             // v2
      CowTable.merge(spark, src, Seq((1L, 0L, "", true))
        .toDF("k", "v", "s", "del"), Seq("k"), Some("del"),
        cdc = true)                                             // v3: delete
      CowTable.merge(spark, src, Seq((1L, 12L, "a3", false))
        .toDF("k", "v", "s", "del"), Seq("k"), Some("del"),
        cdc = true)                                             // v4: re-insert
      drain(src, dst, dir.getAbsolutePath + "/ck")
      assert(contents(dst) === Set((1L, 12L, "a3")))
    }
  }

  test("a non-CDC row-changing commit fails the stream loudly") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/src"
      CowTable.create(spark, src,
        Seq((1L, 10L, "a")).toDF("k", "v", "s"), Seq("k"))
      CowTable.merge(spark, src, Seq((1L, 11L, "x", false))
        .toDF("k", "v", "s", "del"), Seq("k"), Some("del")) // NO cdc
      val q = TableSink.replicaSink(
        TableChangeFeed.readCdc(spark, src),
        dir.getAbsolutePath + "/dst", Seq("k"), appId = "table-replica")
        .option("checkpointLocation", dir.getAbsolutePath + "/ck").start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        try q.processAllAvailable() finally q.stop()
      }
      assert(e.getMessage.contains("carries no CDC") ||
        Option(e.getCause).exists(_.getMessage.contains("carries no CDC")))
    }
  }
}
