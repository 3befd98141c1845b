package graft.similarity

import graft.similarity.Cosine._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space drift monitor: per-label centroid comparison between
  * two corpus snapshots — the vector-space analogue of
  * [[graft.operators.ProfileDiff]] (did "label 3" mean the same thing
  * last month?). An embedding-model retrain, an upstream featurizer
  * change, or topical corpus drift all show up as the label centroid
  * rotating away from its previous position long before downstream
  * metrics move.
  *
  * Exactness discipline (the [[KMeans]] convention): components
  * quantize to `floor(x·2^scaleBits)` so every per-(label, dimension)
  * sum is an exact integer-valued double — order-independent, hence
  * distributed-deterministic and oracle-reproducible; the mean is one
  * IEEE division of exact integers per dimension, and the centroid
  * cosine is the usual left-fold. Valid while n·2^scaleBits·max|x|
  * stays under 2^53 — at scaleBits=20 that is ~8e9 rows per label of
  * unit-normalized components, and scaleBits is tunable down for more.
  *
  * Scale shape: ONE map-side-combined (label, dimension) aggregate per
  * snapshot — the shuffle carries labels×dim rows regardless of corpus
  * size; centroid arrays rebuild from ≤ dim rows per label; the final
  * comparison joins two label-keyed summary frames (raw snapshots
  * never join — the ProfileDiff discipline).
  */
object EmbedDrift {

  val ScaleBits = 20
  private val Scale = (1L << ScaleBits).toDouble

  /** (label, pos, s, cnt): exact integer-valued component sums — the
    * mergeable representation (sums and counts ADD across shards or
    * micro-batches, which the streaming face
    * [[graft.streaming.EmbedDriftStream]] relies on).
    */
  def labelSums(snapshot: DataFrame, labelCol: String,
      vecCol: String): DataFrame =
    snapshot
      .select(col(labelCol).as("label"),
        posexplode(KMeans.fixedPoint(col(vecCol), Scale)))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))

  /** Per-label quantized-mean centroid: (label, n, cv). */
  def labelCentroids(snapshot: DataFrame, labelCol: String,
      vecCol: String): DataFrame =
    labelSums(snapshot, labelCol, vecCol)
      .withColumn("m", col("s") / col("cnt"))
      .groupBy(col("label"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("cv"),
        max(col("cnt")).as("n"))

  /** (label, n_a, n_b, centroid_cos) for labels present in BOTH
    * snapshots (a label seen in only one snapshot has no drift to
    * measure — surface those with an anti-join, the
    * [[graft.operators.ProfileDiff]] added/removed pattern).
    */
  def centroidShift(a: DataFrame, b: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    val ca = labelCentroids(a, labelCol, vecCol)
      .select(col("label"), col("n").as("n_a"), col("cv").as("cv_a"))
    val cb = labelCentroids(b, labelCol, vecCol)
      .select(col("label"), col("n").as("n_b"), col("cv").as("cv_b"))
    ca.join(cb, "label")
      .select(col("label"), col("n_a"), col("n_b"),
        cosineWithNorms(dot(col("cv_a"), col("cv_b")),
          norm2(col("cv_a")), norm2(col("cv_b"))).as("centroid_cos"))
  }
}
