package graft.streaming

import graft.diff.{DataColDiff, DiffResult}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming extension of the core diff operator: diff each micro-batch
  * of updates against a reference snapshot.
  *
  * Semantics per micro-batch: the snapshot is restricted (semi-join) to
  * the keys present in the batch, then the standard
  * [[DataColDiff.computeDataframeDiff]] runs with the snapshot as s1
  * and the batch as s2 — so `S2_ONLY` means "new key not in the
  * snapshot", `S1_ONLY` can't occur by construction, and `""` (diff)
  * rows carry the changed columns. The batch side is micro-batch-sized;
  * the semi-join keeps the snapshot scan proportional to the batch, not
  * the snapshot (with the snapshot bucketed/partitioned by the key,
  * that scan is partition-pruned at 100 TB).
  *
  * The reference library is batch-only (SURVEY §2.9); this is the
  * natural [[MicroBatch]] lift — no new diff semantics are introduced.
  */
object SnapshotDiff {
  // PRECONDITION: each micro-batch must carry at most ONE row per key —
  // the diff's full-outer join fans out duplicate keys (one diff row and
  // one flag count per duplicate). CDC-style update streams should
  // reduce to latest-per-key first (e.g. a window over their own
  // sequence/timestamp column); which row is "latest" is stream-specific
  // knowledge this operator cannot guess.


  /** Wire a streaming frame of updates into per-batch diffs against
    * `snapshot`. The caller decides what to do with each
    * [[DiffResult]] (alert, append to an audit table, ...) — and must
    * `.diff.unpersist()` when done with it, same contract as the batch
    * API.
    */
  def againstSnapshot(updates: DataFrame, snapshot: DataFrame,
      pks: Seq[String])(onBatch: (Long, DiffResult) => Unit): DataStreamWriter[Row] =
    MicroBatch.each(updates) { (batchId, batch) =>
      val touched = snapshot.join(batch.select(pks.map(col): _*).distinct(),
        pks, "left_semi")
      DataColDiff.computeDataframeDiff(touched, batch, pks)
        .fold(mm => throw new IllegalArgumentException(mm.message),
          res => onBatch(batchId, res))
    }
}
