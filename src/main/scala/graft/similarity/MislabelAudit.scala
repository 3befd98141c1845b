package graft.similarity

import graft.expressions.DotProduct
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Label-noise audit over a labeled embedding corpus — the
  * confident-learning-style screen run before trusting labels for
  * classifier training or stratified sampling: fit one centroid per
  * LABEL (not per cluster), assign every vector to its nearest label
  * centroid, and flag the vectors whose geometry disagrees with their
  * annotation. A high per-label flag rate localizes annotation drift
  * to the batch or source that produced it.
  *
  * Determinism is the [[KMeans]] fixed-point argument end-to-end:
  * components quantize once to `floor(x · 2^scaleBits)` (exact,
  * order-independent integer sums), each centroid mean is ONE IEEE
  * division per dimension, distances expand as `qn + cn − 2·q·c` with
  * the oracle mirroring operand order, and nearest-centroid ties break
  * toward the smaller label.
  *
  * Scale shape (100 TB): per-label centroids are ONE map-side-combined
  * (label, pos) aggregate — |labels|·dim sums reach the driver, the
  * codebook-collect class (label vocabularies are bounded). Assignment
  * is a pure projection ([[graft.expressions.NearestCentroid]] — the
  * codebook rides the plan, no join, no shuffle); the own-label
  * distance joins a broadcast |labels|-row centroid frame. One corpus
  * scan for the fit, one for the audit.
  */
object MislabelAudit {

  /** Per-vector audit frame: (vec_id, label, pred, d_pred, d_own,
    * mislabeled) — `pred` the nearest label centroid, `d_*` squared
    * quantized-space L2, `mislabeled` = pred ≠ label.
    */
  def audit(vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, cfg: KMeans.Config = KMeans.Config()): DataFrame = {
    val prep = KMeans.quantize(vectors, idCol, vecCol, cfg,
      col(labelCol).cast("long").as("lbl"))
    // one (label, pos) aggregate; |labels|·dim rows to the driver
    val cents = prep
      .select(col("lbl"), posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy("lbl", "pos")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (lbl, rs) =>
        val cv = rs.sortBy(_.getInt(1))
          .map(r => r.getDouble(2) / r.getLong(3)).toArray
        KMeans.Centroid(lbl, cv, KMeans.leftFoldSq(cv))
      }
    val spark = vectors.sparkSession
    import spark.implicits._
    val centFrame = broadcast(
      cents.map(c => (c.cid, c.cv.toSeq, c.cn)).toDF("lbl", "cv", "cn"))
    prep
      .withColumn("best", KMeans.bestStruct(cents, col("q"), col("qn")))
      .join(centFrame, Seq("lbl"))
      .select(col("vid").as("vec_id"), col("lbl").as("label"),
        col("best.c").as("pred"), col("best.d").as("d_pred"),
        (col("qn") + col("cn") -
          lit(2.0) * DotProduct(col("q"), col("cv"))).as("d_own"),
        (col("best.c") =!= col("lbl")).as("mislabeled"))
  }

  /** Per-label rollup of [[audit]]: vectors, flagged count, flag rate
    * in ppm — the summary a governance dashboard keys on.
    */
  def auditSummary(vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, cfg: KMeans.Config = KMeans.Config()): DataFrame =
    audit(vectors, idCol, vecCol, labelCol, cfg)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("mislabeled"), 1L).otherwise(0L)).as("n_flagged"))
      .withColumn("flag_ppm", expr("(n_flagged * 1000000L) div n_vecs"))
      .orderBy("label")
}
