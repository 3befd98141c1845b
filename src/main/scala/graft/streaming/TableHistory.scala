package graft.streaming

import graft.tables.{CowTable, Scd2Table, TxLog}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face #36: an SCD2 AUDIT HISTORY maintained from a table's
  * own change feed — the third consumer the feed drives beside the
  * aggregate sink and the replica: every source commit becomes one
  * versioned history batch, so `Scd2Table.asOf(history, v)` must
  * reproduce `CowTable.read(source, Some(v))` for EVERY v — history
  * reconstruction ≡ the source's own time travel, which is exactly
  * what the gate pins. Unlike time travel, the history SURVIVES source
  * vacuum (it holds rows, not file references) — the long-horizon
  * audit trail retention trades away.
  *
  * Per micro-batch: preimages drop, the effects of each source commit
  * apply as ONE [[Scd2Table.applyDelta]] at `batchTs = commit version`
  * in version order (a catch-up batch may span commits; SCD2 interval
  * semantics need them applied sequentially, and each apply is
  * churn-only — O(commit's change volume)). Every apply is stamped
  * `Txn(appId, version)`, so restarts and sink retries no-op
  * commit-by-commit.
  */
object TableHistory {

  /** Wire a [[TableChangeFeed.readCdc]] frame into an SCD2 history
    * table at `historyPath` (initialized by [[Scd2Table.init]] from
    * the source's version-1 snapshot at `asOf = 1`; stream from
    * `startingVersion = 2`). `appId` scopes the stamps as in
    * [[TableSink.mergeSink]].
    */
  def scd2Sink(cdcFeed: DataFrame, historyPath: String, keys: Seq[String],
      appId: String): DataStreamWriter[Row] =
    MicroBatch.each(cdcFeed) { (_, batch) =>
      val ct = CowTable.ChangeTypeCol
      val vc = TableChangeFeed.VersionCol
      val fx = batch.filter(col(ct) =!= "update_preimage")
      if (!fx.isEmpty) {
        val versions = fx.select(vc).distinct().collect()
          .map(_.getLong(0)).sorted
        versions.foreach { v =>
          val delta = fx.filter(col(vc) === v)
            .withColumn("_gf_hdel", col(ct) === "delete")
            .drop(ct, vc)
          Scd2Table.applyDelta(batch.sparkSession, historyPath, delta,
            keys, batchTs = v, Some("_gf_hdel"),
            Some(TxLog.Txn(appId, v)))
          ()
        }
      }
    }
}
