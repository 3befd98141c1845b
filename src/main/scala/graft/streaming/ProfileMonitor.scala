package graft.streaming

import graft.operators.KmvSketch
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the profile-drift screen
  * ([[graft.operators.ProfileDiff]]): maintain a RUNNING per-column
  * profile of an update stream and flag drift against a frozen
  * baseline after every micro-batch — the data-quality monitor that
  * answers "is what's arriving still shaped like what we trained on?"
  * without ever storing the stream.
  *
  * The whole design is that the state is EXACTLY mergeable, so the
  * running profile after any number of micro-batches equals the
  * profile of the concatenated stream (spec-asserted):
  *
  *   - row/null counts add; lexicographic min/max fold;
  *   - distinct counts do NOT add — they ride the KMV bottom-k state
  *     ([[KmvSketch]]): the k smallest value hashes. Bottom-k of a
  *     union is the bottom-k of merged bottom-ks, so the cross-batch
  *     merge is lossless and the estimate after any merge sequence is
  *     the estimate of the whole stream. State per column is k longs
  *     + 4 scalars — bounded forever, O(cols · k) on the driver.
  *
  * Per micro-batch the distributed work is one melt + one distinct +
  * one bottom-k window over BATCH-sized data; the driver only merges
  * tiny per-column states. Rate-based drift thresholds (null rate,
  * distinct-estimate ratio, range movement) make the comparison
  * meaningful while counts accumulate — raw-count comparison against
  * a fixed baseline would flag everything forever.
  */
object ProfileMonitor {

  /** Mergeable per-column profile state. */
  case class ColState(nRows: Long, nNull: Long, minVal: Option[String],
      maxVal: Option[String], bottom: Vector[Long]) {

    def merge(o: ColState, k: Int): ColState = ColState(
      nRows + o.nRows, nNull + o.nNull,
      (minVal.toSeq ++ o.minVal.toSeq)
        .reduceOption((a, b) => Ordering[String].min(a, b)),
      (maxVal.toSeq ++ o.maxVal.toSeq)
        .reduceOption((a, b) => Ordering[String].max(a, b)),
      (bottom ++ o.bottom).distinct.sorted.take(k))

    /** Same estimator as [[KmvSketch]]: exact count while the sketch
      * holds every distinct hash, `(k-1)·2^48 / kth` beyond.
      */
    def estDistinct(k: Int): Double =
      if (bottom.size < k) bottom.size.toDouble
      else (k - 1).toDouble * KmvSketch.HashSpace / bottom.last
  }

  /** Distributed per-column profile of one frame, collected as state
    * (one tiny row per column: the batch is micro-batch-sized and the
    * state is k longs per column).
    */
  def profileState(df: DataFrame, cols: Seq[String] = Nil,
      k: Int = 64): Map[String, ColState] = {
    val melted = graft.operators.ColumnProfile.melt(df, cols)
    val counts = melted
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("value").isNull, 1L)), lit(0L)).as("n_null"),
        min(col("value")).as("min_val"), max(col("value")).as("max_val"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)),
          Option(r.getString(4)))).toMap
    val w = Window.partitionBy(col("col_name")).orderBy(col("h"))
    val bottoms = melted.filter(col("value").isNotNull)
      .select(col("col_name"), KmvSketch.hash48(col("value")).as("h"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .collect().groupBy(_.getString(0))
      .map { case (c, rows) => c -> rows.map(_.getLong(1)).toVector.sorted }
    counts.map { case (c, (nr, nn, mn, mx)) =>
      c -> ColState(nr, nn, mn, mx, bottoms.getOrElse(c, Vector.empty))
    }
  }

  def mergeStates(a: Map[String, ColState], b: Map[String, ColState],
      k: Int = 64): Map[String, ColState] =
    MicroBatch.mergeKeyed(a, b)(_.merge(_, k))

  /** Per-column drift verdicts of `running` against `baseline`:
    * ADDED / REMOVED on column presence; DRIFT when the null RATE
    * moved more than `tolNullRate`, the distinct ESTIMATE ratio left
    * [1/tolDistinctRatio, tolDistinctRatio], or the observed range
    * escaped the baseline's; NODIFF otherwise.
    */
  def drift(running: Map[String, ColState], baseline: Map[String, ColState],
      k: Int = 64, tolNullRate: Double = 0.01,
      tolDistinctRatio: Double = 2.0): Seq[(String, String)] = {
    def rate(s: ColState): Double =
      if (s.nRows == 0) 0.0 else s.nNull.toDouble / s.nRows
    (running.keySet ++ baseline.keySet).toSeq.sorted.map { c =>
      (running.get(c), baseline.get(c)) match {
        case (Some(_), None) => c -> "ADDED"
        case (None, _) => c -> "REMOVED"
        case (Some(r), Some(b)) =>
          val nullMoved = math.abs(rate(r) - rate(b)) > tolNullRate
          val er = r.estDistinct(k); val eb = b.estDistinct(k)
          val distinctMoved =
            if (eb == 0.0) er > 0.0
            else er / eb > tolDistinctRatio || eb / er > tolDistinctRatio
          val rangeEscaped =
            (for (rm <- r.minVal; bm <- b.minVal) yield rm < bm)
              .getOrElse(r.minVal.isDefined != b.minVal.isDefined) ||
            (for (rm <- r.maxVal; bm <- b.maxVal) yield rm > bm)
              .getOrElse(r.maxVal.isDefined != b.maxVal.isDefined)
          c -> (if (nullMoved || distinctMoved || rangeEscaped) "DRIFT"
                else "NODIFF")
      }
    }
  }

  /** Wire an update stream into the running monitor: after each
    * micro-batch, `onBatch` receives the batch id, the per-column
    * drift verdicts vs `baseline`, and the running states.
    *
    * Replayed batch ids are skipped ([[MicroBatch.fold]]). The running
    * state lives in this driver closure and does NOT survive a JVM
    * restart — a production deployment persists the (tiny, mergeable)
    * states from `onBatch` and re-seeds a new monitor by merging them
    * back in; mergeability is exactly what makes that re-seed
    * lossless.
    */
  def monitor(updates: DataFrame, baseline: Map[String, ColState],
      cols: Seq[String] = Nil, k: Int = 64, tolNullRate: Double = 0.01,
      tolDistinctRatio: Double = 2.0)(
      onBatch: (Long, Seq[(String, String)], Map[String, ColState]) => Unit)
      : DataStreamWriter[Row] =
    MicroBatch.fold(updates, Map.empty[String, ColState])((running, batch) =>
        mergeStates(running, profileState(batch, cols, k), k)) {
      (batchId, running) => onBatch(batchId,
        drift(running, baseline, k, tolNullRate, tolDistinctRatio), running)
    }
}
