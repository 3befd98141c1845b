package graft.dedup

import graft.similarity.Cosine._
import graft.similarity.IVFIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** SemDeDup-style semantic deduplication: cluster the embedding space
  * with the IVF coarse quantizer ([[graft.similarity.IVFIndex.assign]]),
  * then prune vectors that have a near-identical neighbor (cosine ≥
  * threshold) WITHIN their cluster, keeping the lowest id of each
  * similar group — the keep-first policy every dedup family here uses.
  *
  * This is the third semantic-granularity tier: [[ExactDedup]] catches
  * byte dups, [[MinHashLSH]]/[[NgramJaccard]] catch token-level
  * near-dups, [[EmbeddingNearDup]] catches paraphrases via hyperplane
  * buckets, and SemDeDup catches them via cluster-local search — the
  * formulation of arXiv:2303.09540 (pairwise search restricted to
  * k-means cells), with the deterministic stride quantizer standing in
  * for k-means (same plan shape, oracle-reproducible boundaries).
  *
  * Scale shape: assignment shuffles one small row per vector (max_by
  * hash aggregate — see IVFIndex); the pairwise stage shuffles on the
  * cell id and compares only within cells, so cost is Σ|cell|² — at
  * production scale the centroid count grows with N to keep |cell|
  * bounded (FAISS-style √N cells), and a hot cell can be subdivided by
  * re-quantizing inside it. Nothing is ever all-pairs and nothing
  * collects to the driver.
  */
object SemanticDedup {

  /** Vectors surviving semantic pruning: (vec_id, cell). A vector is
    * dropped iff some SAME-CELL vector with a smaller id is
    * cosine-similar at ≥ `threshold` (dropping against an
    * already-dropped lower id is intentional — the rule is a total
    * order, not a greedy scan, so it is partitioning-invariant and
    * engine-reproducible).
    */
  def survivors(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double,
      cfg: IVFIndex.Config = IVFIndex.Config()): DataFrame =
    prune(IVFIndex.assign(vectors, idCol, vecCol, cfg), threshold)

  /** [[survivors]] over an EXTERNAL (e.g. [[graft.similarity.KMeans]]-
    * trained) centroid frame — the true-scale form: the stride
    * quantizer's centroid count grows as N/stride (assignment
    * N²/stride), while a trained √N-cell codebook keeps assignment
    * N^1.5 with bounded Σ|cell|² pair cost, which is exactly the
    * arXiv:2303.09540 formulation (pairwise search inside k-means
    * cells). Same drop rule, so the result over the stride centroid
    * frame is spec'd EQUAL to [[survivors]] (the
    * `KnnGraph.buildWithCentroids` precedent).
    */
  def survivorsWithCentroids(vectors: DataFrame, idCol: String,
      vecCol: String, threshold: Double, cents: DataFrame): DataFrame =
    prune(IVFIndex.assignWithCentroids(vectors, idCol, vecCol, cents),
      threshold)

  /** [[survivors]] with a DRIVER-SIDE trained codebook assigned via
    * [[graft.expressions.NearestCentroid]] — the large-k production
    * form: assignment is a pure projection (one k×dim loop per row,
    * constant plan size), so k can grow to the thousands of cells a
    * 100 TB corpus needs WITHOUT the N×k row blow-up of the
    * centroid-frame join in [[survivorsWithCentroids]] (the max_by
    * aggregate streams N·k rows; this streams N). Cell boundaries
    * follow the quantized-L2 argmin (the [[graft.similarity.KMeans]]
    * convention — the codebook was trained in that metric), not the
    * stride gate's cosine argmax, so results differ from [[survivors]]
    * by cell SHAPE only; the drop rule — smaller same-cell id with
    * cosine ≥ threshold wins — is identical, and identical vectors
    * always share a cell (deterministic argmin), which is the
    * invariant the 1M-vector stress asserts.
    */
  def survivorsWithCodebook(vectors: DataFrame, idCol: String,
      vecCol: String, threshold: Double,
      cents: Seq[graft.similarity.KMeans.Centroid],
      kmCfg: graft.similarity.KMeans.Config =
        graft.similarity.KMeans.Config()): DataFrame = {
    val prep = graft.similarity.KMeans.prepared(vectors, idCol, vecCol,
      kmCfg.scale)
    val assigned = prep.select(col("vid"), col("v"), col("nrm"),
      graft.expressions.NearestCentroid(col("q"), col("qn"),
        cents.map(_.cid), cents.map(_.cn), cents.map(_.cv))
        .getField("c").as("cell"))
    prune(assigned, threshold)
  }

  private def prune(assignedRaw: DataFrame, threshold: Double): DataFrame = {
    val assigned = assignedRaw.persist(StorageLevel.MEMORY_AND_DISK)
    val dropped = cellPairs(assigned, assigned, _ < _)
      .filter(col("cos_sim") >= threshold)
      .select(col("src_id").as("vid")).distinct()
    assigned.join(dropped, Seq("vid"), "left_anti")
      .select(col("vid").as("vec_id"), col("cell"))
  }
}
