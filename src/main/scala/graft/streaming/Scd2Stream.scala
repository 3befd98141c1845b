package graft.streaming

import graft.operators.Scd2
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of [[graft.operators.Scd2]] — SCD2 history
  * maintenance fed by a CDC change stream: each micro-batch of
  * upsert/tombstone rows folds into the running history via
  * [[Scd2.applyDelta]] (the delta mode exists exactly for this face —
  * a snapshot apply per micro-batch would close every key the batch
  * doesn't mention).
  *
  * [[MicroBatch.each]] is the right lift: the apply's semantics are
  * batch-vs-accumulated-state, and per micro-batch that is EXACTLY the
  * already-verified batch operator. The history is a
  * [[MicroBatch.Standing]] frame, re-materialized per batch with
  * `localCheckpoint` to cut lineage — an unbounded stream would
  * otherwise stack one full-outer join per batch into a single growing
  * plan. In production the holder is a storage-backed table —
  * [[TableSink.mergeSink]] over a [[graft.tables.CowTable]] is that
  * holder in-repo (exactly-once via log-stamped batches); this
  * in-process holder object remains the lighter-weight harness for
  * operator-level tests.
  */
object Scd2Stream {

  /** History holder — read `history` for the current state. The
    * caller's initial frame seeds it and is never released.
    */
  final class HistoryHolder(initial: DataFrame) {
    private[streaming] val standing = MicroBatch.Standing(initial)
    def history: DataFrame = standing.current.get
  }

  /** Wire a CDC stream into `holder`. `batchTs` maps micro-batch id →
    * the valid_from/valid_to timestamp recorded for that batch's
    * changes (monotone increasing is the caller's contract, as with any
    * event-time versioning).
    */
  def maintain(deltas: DataFrame, holder: HistoryHolder, keys: Seq[String],
      tombstoneCol: Option[String], batchTs: Long => Long): DataStreamWriter[Row] =
    MicroBatch.each(deltas) { (batchId, batch) =>
      holder.standing.advance(Scd2.applyDelta(holder.history, batch, keys,
        batchTs(batchId), tombstoneCol))
      ()
    }
}
