package graft.streaming

import graft.operators.TrendFit
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the exact-rational trend monitor
  * ([[graft.operators.TrendFit]]): maintain RUNNING per-group OLS
  * moments of a metric stream and report each group's trend verdict
  * after every micro-batch — "which feeds started drifting, which
  * way" without storing the stream. Sits beside [[CovMonitor]]
  * (second moments of a vector space) as the scalar-metric drift
  * watcher.
  *
  * The state is EXACTLY mergeable by construction: per group it is
  * (n, Σx, Σy, Σxy, Σx², Σy²) over integers (second moments as BigInt
  * — the batch operator's DECIMAL(38,0)), so integer sums add in any
  * batch order and the running state after any micro-batch sequence
  * is BIT-equal to the batch [[TrendFit.moments]] over the
  * concatenated stream (spec-asserted). State is |groups| tuples —
  * the bounded-by-construction driver collect class; per-batch
  * distributed work is one grouped aggregate over batch-sized data.
  */
object TrendStream {

  /** Mergeable per-group OLS moment state. */
  case class GroupState(n: Long, sx: Long, sy: Long,
      sxy: BigInt, sxx: BigInt, syy: BigInt) {
    def merge(o: GroupState): GroupState =
      GroupState(n + o.n, sx + o.sx, sy + o.sy,
        sxy + o.sxy, sxx + o.sxx, syy + o.syy)

    /** Exact closed-form slope rational (see [[TrendFit]]). */
    def slopeNum: BigInt = BigInt(n) * sxy - BigInt(sx) * BigInt(sy)
    def slopeDen: BigInt = BigInt(n) * sxx - BigInt(sx) * BigInt(sx)

    /** Driver-side slope in y-fixed-point units per x unit; None when
      * the group has a single x value (no trend measurable).
      */
    def slope: Option[Double] =
      if (slopeDen == 0) None
      else Some(slopeNum.toDouble / slopeDen.toDouble)

    def yVarNum: BigInt = BigInt(n) * syy - BigInt(sy) * BigInt(sy)

    /** Pearson correlation from the SAME running moments — the
      * streaming face of [[graft.operators.Correlate.pearson]], exact
      * operand-order mirror of its `corr_q` (spec-asserted ⌊10^6·r⌋
      * equality); None when either variance is zero.
      */
    def corr: Option[Double] =
      if (slopeDen == 0 || yVarNum == 0) None
      else Some(slopeNum.toDouble /
        (math.sqrt(slopeDen.toDouble) * math.sqrt(yVarNum.toDouble)))
  }

  type TrendState = Map[String, GroupState]

  /** Distributed one-pass moments of one frame, collected as state. */
  def state(batch: DataFrame, groupCol: String, xCol: Column,
      yCol: Column): TrendState =
    TrendFit.moments(batch, Seq(groupCol), xCol, yCol)
      .collect()
      .map { r =>
        def big(i: Int) = BigInt(r.getDecimal(i).toBigInteger)
        r.getString(0) -> GroupState(r.getLong(1), r.getLong(2),
          r.getLong(3), big(4), big(5), big(6))
      }.toMap

  def mergeStates(a: TrendState, b: TrendState): TrendState =
    MicroBatch.mergeKeyed(a, b)(_ merge _)

  /** Per-group verdicts: TRENDING_UP / TRENDING_DOWN when |slope|
    * exceeds `minAbsSlope` (y-fp units per x unit), FLAT below it,
    * UNMEASURED for single-x groups. Sorted by group for stable logs.
    */
  def verdicts(running: TrendState,
      minAbsSlope: Double): Seq[(String, Option[Double], String)] =
    running.toSeq.sortBy(_._1).map { case (g, st) =>
      val v = st.slope match {
        case None => "UNMEASURED"
        case Some(s) if s > minAbsSlope => "TRENDING_UP"
        case Some(s) if s < -minAbsSlope => "TRENDING_DOWN"
        case Some(_) => "FLAT"
      }
      (g, st.slope, v)
    }

  /** Wire a metric stream into the running monitor: after each
    * micro-batch, `onBatch` receives the batch id, the per-group
    * verdicts, and the running state. As with [[CovMonitor]], the
    * state lives in this driver closure; a production deployment
    * persists the (tiny, mergeable) state and re-seeds losslessly.
    */
  def monitor(updates: DataFrame, groupCol: String, xCol: Column,
      yCol: Column, minAbsSlope: Double)(
      onBatch: (Long, Seq[(String, Option[Double], String)],
        TrendState) => Unit): DataStreamWriter[Row] =
    MicroBatch.fold(updates, Map.empty: TrendState)((running, batch) =>
        mergeStates(running, state(batch, groupCol, xCol, yCol))) {
      (batchId, running) =>
        onBatch(batchId, verdicts(running, minAbsSlope), running)
    }
}
