package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one micro-batch lift of the streaming faces. A face whose
  * per-batch semantics are a batch operator wires through here, so the
  * two streaming decisions are made once:
  *
  *   - which batches run: an empty micro-batch never reaches a body
  *     ([[each]]); a running-state fold also skips every batch id at or
  *     below the last one it folded ([[fold]]) — foreachBatch is
  *     at-least-once, and Spark re-runs an uncommitted batch under its
  *     old id when a query restarts from its checkpoint;
  *   - when state advances: a fold records the id BEFORE the caller's
  *     `onBatch`, so a callback that throws does not make the replay
  *     fold the batch twice; a [[Standing]] frame is materialized before
  *     the generation it replaces is released.
  *
  * A serving or screening face is one call: e.g.
  * `MicroBatch.each(q)((id, b) => onBatch(id, IvfPq.topKIndexed(spark,
  * t, b, ..., Some(model))))` — the batch operator runs unchanged on
  * each micro-batch frame, so no stream face re-proves its semantics.
  */
object MicroBatch {

  /** Wire `stream` so `body` runs on every non-empty micro-batch with
    * its batch id.
    */
  def each(stream: DataFrame)(
      body: (Long, DataFrame) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) body(batchId, batch)
    }

  /** Running state over `stream`: each new non-empty micro-batch folds
    * into the state through `step`, the id is recorded, then `onBatch`
    * sees the id and the running state. A replayed id (≤ the last one
    * folded) is skipped whole. The state lives in the writer's closure:
    * restarting the same writer keeps it, a new writer starts at `zero`.
    */
  def fold[S](stream: DataFrame, zero: S)(step: (S, DataFrame) => S)(
      onBatch: (Long, S) => Unit): DataStreamWriter[Row] = {
    var state = zero
    var last = -1L
    each(stream) { (batchId, batch) =>
      if (batchId > last) {
        state = step(state, batch)
        last = batchId
        onBatch(batchId, state)
      }
    }
  }

  /** Keyed merge of two running states: keys of either side, `f` where
    * both have one (`f(a's, b's)`).
    */
  def mergeKeyed[K, V](a: Map[K, V], b: Map[K, V])(f: (V, V) => V): Map[K, V] =
    b.foldLeft(a) { case (acc, (k, v)) =>
      acc.updated(k, acc.get(k).fold(v)(f(_, v)))
    }

  /** A standing frame a maintainer re-materializes once per batch.
    * [[advance]] checkpoints the next generation eagerly (lineage stays
    * one batch deep), swaps it in, then releases the generation this
    * standing made before — its blocks would otherwise linger until
    * the ContextCleaner GCs the dropped reference, corpus-sized storage
    * per batch. The caller's initial frame is never released.
    */
  final class Standing private (initial: Option[DataFrame]) {
    @volatile private var cur = initial
    private var owned: Option[DataFrame] = None

    def current: Option[DataFrame] = cur

    def advance(next: DataFrame): DataFrame = {
      val ck = next.localCheckpoint(eager = true)
      cur = Some(ck)
      owned.foreach(CheckpointBridge.release)
      owned = cur
      ck
    }
  }

  object Standing {
    /** Seeded with the caller's frame (never released here). */
    def apply(initial: DataFrame): Standing = new Standing(Some(initial))

    /** No frame until the first [[Standing.advance]]. */
    def empty: Standing = new Standing(None)
  }
}
