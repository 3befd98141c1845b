package graft.streaming

import graft.similarity.GramMatrix
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the Gram/covariance operator
  * ([[graft.similarity.GramMatrix]]): maintain RUNNING second-moment
  * state of an embedding stream and flag correlation-structure shifts
  * against a frozen baseline after every micro-batch — "is the
  * embedding space's covariance still the one we whitened/PCA'd
  * against?" without storing the stream. The matrix-level companion of
  * [[EmbedDriftStream]] (which watches per-label centroids — first
  * moments; this watches the second moments that define the space's
  * shape).
  *
  * The state is EXACTLY mergeable by construction: per upper-triangle
  * cell it is (n, Σqᵢ, Σqⱼ, Σqᵢqⱼ) over 2^20-fixed-point LONG
  * quantities — integer sums add exactly in any batch order, so the
  * running state after any sequence of micro-batches is BIT-equal to
  * the batch operator over the concatenated stream (spec-asserted,
  * including the 128-bit covariance numerator recomputed via BigInt).
  * State is d(d+1)/2 cells × 4 longs (d = 64 → 2 080 cells) — the
  * bounded-by-construction driver collect class; the per-batch
  * distributed work is [[GramMatrix.upperTriangle]]'s one-pass
  * aggregate over batch-sized data.
  *
  * The running state doubles as a PCA trainer input:
  * [[graft.similarity.Pca.fitFromState]] refits the model from it
  * after any batch, bit-identical to a batch fit over the
  * concatenated stream — model refresh without a corpus rescan.
  */
object CovMonitor {

  /** Mergeable per-cell moment state. */
  case class CellState(n: Long, sx: Long, sy: Long, sxy: Long) {
    def merge(o: CellState): CellState =
      CellState(n + o.n, sx + o.sx, sy + o.sy, sxy + o.sxy)

    /** Exact n²-scaled covariance numerator (128-bit safe). */
    def covNum: BigInt =
      BigInt(n) * BigInt(sxy) - BigInt(sx) * BigInt(sy)
  }

  type CovState = Map[(Int, Int), CellState]

  /** Distributed one-pass moments of one frame, collected as state. */
  def state(batch: DataFrame, vecCol: String): CovState =
    GramMatrix.upperTriangle(batch, vecCol)
      .select("i", "j", "n", "sx_fp", "sy_fp", "sxy_fp")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        CellState(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  def mergeStates(a: CovState, b: CovState): CovState =
    MicroBatch.mergeKeyed(a, b)(_ merge _)

  /** Pearson correlation of a cell from the diagonal states — the
    * monitoring statistic (driver-side doubles; the hash-exact surface
    * is the state itself). NaN when either variance is zero.
    */
  def corr(cell: CellState, diagI: CellState, diagJ: CellState): Double = {
    val num = cell.covNum
    val vi = diagI.covNum
    val vj = diagJ.covNum
    if (vi <= 0 || vj <= 0) Double.NaN
    else num.toDouble / math.sqrt(vi.toDouble * vj.toDouble)
  }

  /** Per-cell verdicts of `running` vs `baseline` correlations:
    * (i, j, corr_run, corr_base, verdict) with DRIFT when the absolute
    * correlation shift exceeds `maxShift`, NODIFF otherwise; cells are
    * compared only where both sides have the full diagonal (off-cells
    * of a ragged stream surface as NaN → DRIFT, the honest alarm).
    */
  def drift(running: CovState, baseline: CovState,
      maxShift: Double = 0.2): Seq[(Int, Int, Double, Double, String)] =
    running.keySet.intersect(baseline.keySet).toSeq.sorted
      .filter { case (i, j) => i < j } // correlation of (i,i) is 1
      .map { case (i, j) =>
        val cr = corr(running((i, j)), running((i, i)), running((j, j)))
        val cb = corr(baseline((i, j)), baseline((i, i)), baseline((j, j)))
        val shifted = cr.isNaN != cb.isNaN ||
          (!cr.isNaN && math.abs(cr - cb) > maxShift)
        (i, j, cr, cb, if (shifted) "DRIFT" else "NODIFF")
      }

  /** Wire an embedding stream into the running monitor: after each
    * micro-batch, `onBatch` receives the batch id, the drifted cells
    * vs `baseline`, and the running state. As with [[ProfileMonitor]]/
    * [[EmbedDriftStream]], the state lives in this driver closure; a
    * production deployment persists the (tiny, mergeable) state and
    * re-seeds losslessly by merging it back.
    */
  def monitor(updates: DataFrame, baseline: CovState, vecCol: String,
      maxShift: Double = 0.2)(
      onBatch: (Long, Seq[(Int, Int, Double, Double, String)],
        CovState) => Unit): DataStreamWriter[Row] =
    MicroBatch.fold(updates, Map.empty: CovState)(
        (running, batch) => mergeStates(running, state(batch, vecCol))) {
      (batchId, running) => onBatch(batchId,
        drift(running, baseline, maxShift).filter(_._5 == "DRIFT"), running)
    }
}
