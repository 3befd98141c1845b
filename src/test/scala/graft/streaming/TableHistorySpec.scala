package graft.streaming

import graft.SparkTestSession
import graft.tables.{CowTable, Scd2Table, TxLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableHistory]]: the feed-driven SCD2 history must reconstruct the
  * source at EVERY version — `asOf(v)` ≡ the source's own time travel
  * — and replays must no-op commit-by-commit.
  */
class TableHistorySpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def withDir(f: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_hist_").toFile
    try f(dir) finally rmrf(dir)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private def rows(df: DataFrame): Set[(Long, Long, String)] =
    df.select("k", "v", "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def drain(src: String, hist: String, ckpt: String): Unit = {
    val q = TableHistory.scd2Sink(
      TableChangeFeed.readCdc(spark, src, startingVersion = 2L),
      hist, Seq("k"), appId = "table-history")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("asOf(v) == the source's time travel, for every version") {
    withDir { dir =>
      val src = dir.getAbsolutePath + "/src"
      val hist = dir.getAbsolutePath + "/hist"
      val ckpt = dir.getAbsolutePath + "/ck"

      CowTable.create(spark, src,
        Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
          .toDF("k", "v", "s"), Seq("k"))                       // v1
      Scd2Table.init(spark, hist,
        CowTable.read(spark, src, Some(1L)), Seq("k"), asOf = 1L)

      CowTable.merge(spark, src, Seq(
          (2L, 21L, "b2", false), (3L, 0L, "", true),
          (4L, 40L, "d", false)).toDF("k", "v", "s", "del"),
        Seq("k"), Some("del"), cdc = true)                      // v2
      CowTable.append(spark, src,
        Seq((5L, 50L, "e")).toDF("k", "v", "s"))                // v3
      CowTable.updateWhere(spark, src, col("k") === 2L,
        Map("v" -> lit(22L)), cdc = true)                       // v4
      drain(src, hist, ckpt)

      (1L to 4L).foreach { v =>
        assert(rows(Scd2Table.asOf(spark, hist, v)) ===
          rows(CowTable.read(spark, src, Some(v))),
          s"history reconstruction diverged at version $v")
      }

      // replay: a second drain from the same checkpoint (and even a
      // fresh stream over ALL versions) adds no history versions
      val hv = TxLog.latestVersion(spark, hist)
      drain(src, hist, ckpt)
      drain(src, hist, dir.getAbsolutePath + "/ck2") // fresh checkpoint
      assert(TxLog.latestVersion(spark, hist) === hv)
      (1L to 4L).foreach { v =>
        assert(rows(Scd2Table.asOf(spark, hist, v)) ===
          rows(CowTable.read(spark, src, Some(v))))
      }
    }
  }
}
