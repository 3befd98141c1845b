package graft.streaming

import graft.dedup.Clusters
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the standing duplicate-cluster assignment —
  * the component-level half of continuous ingest: a screen
  * ([[graft.dedup.IncrementalDedup.verdicts]] through
  * [[MicroBatch.each]]) turns each micro-batch into verified
  * pairs; this face folds those pairs into the standing
  * (id, comp) table via [[Clusters.appendComponents]], so cluster
  * labels stay current without ever re-running components over the
  * full corpus graph (per batch: contracted-edge CC + two standing
  * joins — the appendComponents contract, spec'd append ≡ rebuild).
  *
  * [[MicroBatch.each]] is the right lift (the [[Scd2Stream]]
  * maintenance reasoning): the fold is batch-vs-standing with an
  * overwrite of the standing table, and the batch boundary is exactly
  * the unit the spec'd batch operator takes. The caller owns the
  * standing store through `load`/`save` (a catalog table, a parquet
  * dir, a memory-table in specs); `save` runs AFTER the fold's frame is
  * computed against a `localCheckpoint`'d snapshot, so the overwrite
  * may read its own previous generation (the Bm25.appendToIndex /
  * Scd2Stream lineage-cut discipline lives in [[fold]]).
  */
object ClusterMaintain {

  /** One maintenance step: the new standing assignment after folding
    * `pairs` into `standing` — snapshot-isolated so the result may
    * overwrite the frame it was derived from.
    */
  def fold(standing: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame =
    Clusters.appendComponents(
      standing.localCheckpoint(true), pairs, aCol, bCol)

  /** Wire a stream of verified duplicate PAIRS into standing-table
    * maintenance. `load` supplies the current standing (id, comp)
    * frame; `save` persists the folded replacement (and is only
    * invoked for non-empty batches).
    */
  def maintain(pairs: DataFrame, aCol: String, bCol: String)(
      load: () => DataFrame)(save: DataFrame => Unit): DataStreamWriter[Row] =
    MicroBatch.each(pairs) { (_, batch) =>
      // scoped release of appendComponents' internal standing-frame
      // persist: `save` materializes the fold, then exactly that
      // cache is dropped (a blanket clearCache would also unpersist
      // user-cached relations sharing the session). The snapshot
      // checkpoint releases in the same finally (ADVICE r15): its
      // blocks would otherwise linger until the ContextCleaner GCs
      // the dropped reference — corpus-sized storage per batch.
      val ck = load().localCheckpoint(true)
      val (folded, releaseScratch) = Clusters.appendComponentsScoped(
        ck, batch, aCol, bCol)
      try save(folded)
      finally {
        releaseScratch()
        org.apache.spark.sql.graft.CheckpointBridge.release(ck)
      }
    }
}
