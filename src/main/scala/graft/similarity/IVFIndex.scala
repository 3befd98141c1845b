package graft.similarity

import graft.similarity.Cosine._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * coarse-quantizer alternative to [[HyperplaneLSH]].
  *
  * Build: pick a small deterministic centroid set, assign every vector
  * to its nearest centroid. The assignment is an `max_by` HASH
  * AGGREGATE over the (vector × centroid) scores, not a window: partial
  * aggregation collapses each vector's C candidate rows map-side, so
  * only one small row per vector ever shuffles — the N×C intermediate
  * (with its vector payloads) never crosses the wire. That's the shape
  * that survives a billion-vector corpus; a window over the cross
  * product would shuffle N×C full-width rows.
  *
  * Search: a query probes its `nProbe` nearest cells and ranks only the
  * vectors assigned there — corpus/|cells| × nProbe work instead of
  * brute force.
  *
  * Centroids default to the vectors at a fixed id stride: deterministic
  * and oracle-reproducible — that pins the query-plan shape. For a
  * production index, [[topKWithCentroids]] + [[fromKMeans]] plug in a
  * [[KMeans]]-trained codebook (the recall knob). Trained centroids live
  * in the trainer's uniformly-scaled fixed-point space; cosine is
  * scale-invariant, so they drop in unchanged.
  */
object IVFIndex {

  case class Config(centroidStride: Long = 31, nProbe: Int = 2)

  private def prepared(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm2(col("v")))

  private def centroids(prep: DataFrame, cfg: Config): DataFrame =
    prep.filter(col("vid") % cfg.centroidStride === 0)
      .select(col("vid").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))

  private def cosToCentroid: Column =
    cosineWithNorms(dot(col("v"), col("cv")), col("nrm"), col("cn"))

  /** (vid, v, nrm, cell): every vector labeled with its nearest
    * centroid (highest cosine, centroid id as tie-break — encoded as
    * max_by ordering (c_cos, -c_id), which is unique per candidate, so
    * the argmax is deterministic).
    */
  def assign(vectors: DataFrame, idCol: String, vecCol: String,
      cfg: Config = Config()): DataFrame =
    assignPrepared(prepared(vectors, idCol, vecCol), cfg)

  /** The stride quantizer's centroid frame (c_id, cv, cn) — public so
    * an index writer can PERSIST the coarse layer alongside its data
    * tables and assign later arrivals/queries against the identical
    * boundaries ([[assignWithCentroids]]).
    */
  def centroidFrame(vectors: DataFrame, idCol: String, vecCol: String,
      cfg: Config = Config()): DataFrame =
    centroids(prepared(vectors, idCol, vecCol), cfg)

  private def assignPrepared(prep: DataFrame, cfg: Config): DataFrame =
    assignOver(prep, centroids(prep, cfg))

  private def assignOver(prep: DataFrame, cents: DataFrame): DataFrame = {
    val cells = prep.join(cents)
      .select(col("vid"), col("c_id"), cosToCentroid.as("c_cos"))
      .groupBy("vid")
      .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("cell"))
    prep.join(cells, "vid").select(col("vid"), col("v"), col("nrm"), col("cell"))
  }

  /** Top-k cosine neighbors per query over the `nProbe` nearest cells. */
  def topK(vectors: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, cfg: Config = Config()): DataFrame = {
    val prep = prepared(vectors, idCol, vecCol)
    topKOver(prep, centroids(prep, cfg), isQuery, k, cfg.nProbe)
  }

  /** [[topK]] with an EXTERNAL centroid set — e.g. [[KMeans]]-trained
    * centroids instead of the deterministic stride quantizer. `cents`
    * must carry (c_id, cv: numeric array, cn: squared norm); see
    * [[fromKMeans]] for the trained-centroid adapter.
    */
  def topKWithCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, cents: DataFrame,
      nProbe: Int = Config().nProbe): DataFrame =
    topKOver(prepared(vectors, idCol, vecCol), cents, isQuery, k, nProbe)

  /** Centroid frame for [[topKWithCentroids]] from a trained
    * [[KMeans.Centroid]] set (k rows — a driver-side literal relation).
    */
  def fromKMeans(vectors: DataFrame, cents: Seq[KMeans.Centroid]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    cents.map(c => (c.cid, c.cv.toSeq, c.cn)).toDF("c_id", "cv", "cn")
  }

  /** [[assign]] with an EXTERNAL centroid set (e.g. [[KMeans]]-trained
    * via [[fromKMeans]]) — the scale path: the stride default grows the
    * centroid count as N/stride, so assignment cost is N²/stride,
    * while a trained √N-cell codebook keeps it N^1.5 with bounded
    * cells. `cents` must carry (c_id, cv, cn).
    */
  def assignWithCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    assignOver(prepared(vectors, idCol, vecCol), cents)

  private def topKOver(prep: DataFrame, cents: DataFrame,
      isQuery: Column => Column, k: Int, nProbe: Int): DataFrame = {
    val assigned = assignOver(prep, cents).persist()
    val queries = assigned.filter(isQuery(col("vid")))
      .select(col("vid").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    // probe cells: nProbe nearest centroids per query — the query set is
    // the small side, so a window here is cheap (|queries| × C rows)
    val wq = Window.partitionBy("q_id").orderBy(desc("c_cos"), asc("c_id"))
    val probes = queries
      .join(cents)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"),
        cosineWithNorms(dot(col("qv"), col("cv")), col("qn"), col("cn"))
          .as("c_cos"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("cell"))
    queryTopK(probes.join(assigned, "cell").filter(col("vid") =!= col("q_id")),
      k)
  }
}
