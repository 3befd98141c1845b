package graft.streaming

import graft.similarity.EmbedDrift
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the embedding-drift monitor
  * ([[graft.similarity.EmbedDrift]]): maintain RUNNING per-label
  * centroids of an embedding stream and flag rotation against a frozen
  * baseline after every micro-batch — "do these labels still mean what
  * they meant when we trained?" without storing the stream.
  *
  * The state is EXACTLY mergeable by construction: per label it is the
  * fixed-point component sums (exact integer-valued doubles — adding
  * them is exact in any order) plus a count, so the running centroid
  * after any sequence of micro-batches equals the batch operator's
  * centroid over the concatenated stream (spec-asserted BIT-equal,
  * including the cosine against the baseline). State per label is
  * dim + 1 numbers; the per-batch distributed work is one
  * map-side-combined (label, dim) aggregate over batch-sized data —
  * the [[ProfileMonitor]] discipline, with centroids instead of
  * column profiles.
  */
object EmbedDriftStream {

  /** Mergeable per-label centroid state. */
  case class LabelState(n: Long, sums: Vector[Double]) {
    def merge(o: LabelState): LabelState = {
      require(sums.length == o.sums.length,
        s"dimension mismatch: ${sums.length} vs ${o.sums.length}")
      LabelState(n + o.n,
        sums.zip(o.sums).map { case (a, b) => a + b })
    }
    def centroid: Array[Double] = sums.map(_ / n).toArray
  }

  /** Distributed (label, dim) sums of one frame, collected as state
    * (labels × dim tiny rows).
    */
  def state(batch: DataFrame, labelCol: String,
      vecCol: String): Map[Long, LabelState] =
    EmbedDrift.labelSums(
        batch.withColumn(labelCol,
          org.apache.spark.sql.functions.col(labelCol).cast("long")),
        labelCol, vecCol)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (label, rows) =>
        val byPos = rows.sortBy(_._2)
        label -> LabelState(byPos.head._4, byPos.map(_._3).toVector)
      }

  def mergeStates(a: Map[Long, LabelState],
      b: Map[Long, LabelState]): Map[Long, LabelState] =
    MicroBatch.mergeKeyed(a, b)(_ merge _)

  /** Left-fold cosine between two centroids — the exact
    * [[graft.expressions.DotProduct]] operand order, so the driver-side
    * value is bit-identical to the batch operator's column.
    */
  def centroidCos(a: Array[Double], b: Array[Double]): Double = {
    def fold(x: Array[Double], y: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { acc += x(i) * y(i); i += 1 }
      acc
    }
    fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
  }

  /** Per-label verdicts of `running` vs `baseline`: ADDED / REMOVED on
    * label presence; DRIFT when the centroid cosine falls below
    * `minCos`; NODIFF otherwise. Cosine rides along (NaN when absent).
    */
  def drift(running: Map[Long, LabelState], baseline: Map[Long, LabelState],
      minCos: Double = 0.95): Seq[(Long, String, Double)] =
    (running.keySet ++ baseline.keySet).toSeq.sorted.map { l =>
      (running.get(l), baseline.get(l)) match {
        case (Some(_), None) => (l, "ADDED", Double.NaN)
        case (None, _) => (l, "REMOVED", Double.NaN)
        case (Some(r), Some(b)) =>
          val c = centroidCos(r.centroid, b.centroid)
          (l, if (c < minCos) "DRIFT" else "NODIFF", c)
      }
    }

  /** Wire an embedding stream into the running monitor: after each
    * micro-batch, `onBatch` receives the batch id, the per-label
    * verdicts vs `baseline`, and the running states. As with
    * [[ProfileMonitor]], the state lives in this driver closure; a
    * production deployment persists the (tiny, mergeable) states and
    * re-seeds losslessly by merging them back.
    */
  def monitor(updates: DataFrame, baseline: Map[Long, LabelState],
      labelCol: String, vecCol: String, minCos: Double = 0.95)(
      onBatch: (Long, Seq[(Long, String, Double)],
        Map[Long, LabelState]) => Unit): DataStreamWriter[Row] =
    MicroBatch.fold(updates, Map.empty[Long, LabelState])((running, batch) =>
        mergeStates(running, state(batch, labelCol, vecCol))) {
      (batchId, running) =>
        onBatch(batchId, drift(running, baseline, minCos), running)
    }
}
