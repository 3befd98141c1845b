package graft.tables

import graft.operators.Scd2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCD2 history MAINTAINED IN a [[CowTable]] — the storage-backed form
  * of [[graft.operators.Scd2]]'s fold, where each CDC batch becomes one
  * transactional MERGE instead of a rewrite of the whole history frame.
  *
  * Layout: one row per (key, valid_from) version, hive-partitioned by
  * the `open` flag. That single bit is the scale lever the batch
  * operator's scaladoc promises ("history stored partitioned on
  * `valid_to IS NULL`"): the current slice — the ONLY part a delta
  * apply joins against — reads from the `open=true` partition
  * directories, pruned at planning time, so an apply touches O(live
  * keys) regardless of how deep the closed history grows. Rows flip
  * partitions when they close; that is just the merge rewriting them
  * into `open=false` files (the copy-on-write writer re-partitions
  * every rewritten row by construction).
  *
  * Per batch, the change set against the current slice is computed by
  * the PROVEN batch operator itself ([[Scd2.applyDelta]] over the
  * current slice alone): closes are rows with `valid_to = batchTs`,
  * inserts are rows with `valid_from = batchTs`, untouched survivors
  * drop out — the merge ships only the churn. Batch timestamps must be
  * strictly increasing (the operator's contract); the optional `txn`
  * stamp makes replays no-ops, so this composes with
  * [[graft.streaming.MicroBatch.each]] wiring (as in
  * [[graft.streaming.TableHistory]]) for an exactly-once streaming
  * SCD2 pipeline.
  */
object Scd2Table {

  private val Open = "open"

  /** Initialize the history table from a first full snapshot. */
  def init(spark: SparkSession, path: String, snapshot: DataFrame,
      keys: Seq[String], asOf: Long): Unit = {
    val hist = Scd2.initHistory(snapshot, asOf)
      .withColumn(Open, lit(true))
    CowTable.create(spark, path, hist,
      statsCols = keys :+ Scd2.ValidFrom, partitionBy = Seq(Open))
  }

  /** The open slice, read from the `open=true` partition only. */
  def current(spark: SparkSession, path: String): DataFrame =
    CowTable.read(spark, path).filter(col(Open))
      .drop(Open, Scd2.ValidTo)

  /** Full history (all versions, interval columns included). */
  def history(spark: SparkSession, path: String): DataFrame =
    CowTable.read(spark, path).drop(Open)

  /** The table as of `ts` ([[Scd2.asOf]] semantics). */
  def asOf(spark: SparkSession, path: String, ts: Long): DataFrame =
    Scd2.asOf(history(spark, path), ts)

  /** Fold one CDC batch into the table at `batchTs` — one MERGE keyed
    * (keys, valid_from) carrying only closed + inserted version rows.
    */
  def applyDelta(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], batchTs: Long,
      tombstoneCol: Option[String] = None,
      txn: Option[TxLog.Txn] = None): CowTable.MergeMetrics = {
    val cur = CowTable.read(spark, path).filter(col(Open)).drop(Open)
    val next = Scd2.applyDelta(cur, delta, keys, batchTs, tombstoneCol)
    // churn only: closes carry valid_to = batchTs, inserts carry
    // valid_from = batchTs; unchanged survivors drop out of the merge
    val changes = next.filter(
        col(Scd2.ValidTo) === batchTs || col(Scd2.ValidFrom) === batchTs)
      .withColumn(Open, col(Scd2.ValidTo).isNull)
    CowTable.merge(spark, path, changes, keys :+ Scd2.ValidFrom,
      deleteCol = None, checkUniqueKeys = false, txn = txn)
  }
}
