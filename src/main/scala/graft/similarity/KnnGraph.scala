package graft.similarity

import graft.similarity.Cosine._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-nearest-neighbor GRAPH construction: the top-k cosine neighbors of
  * EVERY vector in the corpus, not just a query set — the artifact that
  * feeds NN-descent refinement, graph-based clustering, SemDeDup++-style
  * duplicate ranking, and hubness/outlier diagnostics over a training
  * corpus.
  *
  * Candidate generation is cell-local, the
  * [[graft.dedup.SemanticDedup]] shape: every vector is assigned to its
  * nearest coarse cell ([[IVFIndex.assign]] — a max_by hash aggregate,
  * one small row per vector over the wire), and neighbors are ranked
  * only within the cell. Cost is Σ|cell|² candidate pairs, never
  * all-pairs; at production scale the centroid count grows with N
  * (FAISS-style √N cells) to keep |cell| bounded. Vectors in different
  * cells are never compared — the same stated recall trade-off as
  * SemDeDup, and exactly what NN-descent's iterative refinement is for.
  *
  * The pairs are [[Cosine.cellPairs]] and the per-source top-k is
  * [[Cosine.topK]] (cos_sim DESC, n_id — a total order, so results are
  * partitioning-invariant). Spark plans it as WindowGroupLimit: each
  * map task keeps only its local top-k per source BEFORE the shuffle,
  * so the exchange carries at most k rows per vector, not the full
  * Σ|cell|² candidate set.
  */
object KnnGraph {

  /** (src_id, rank, n_id, cos_sim): the k nearest same-cell neighbors of
    * every vector, rank 1 = most similar. Vectors alone in their cell
    * produce no rows (they have no candidates — the honest answer, not
    * a padded one).
    */
  def build(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
      cfg: IVFIndex.Config = IVFIndex.Config()): DataFrame =
    rankCellPairs(IVFIndex.assign(vectors, idCol, vecCol, cfg), k)

  /** [[build]] with a TRAINED centroid set ([[KMeans]] via
    * [[IVFIndex.fromKMeans]]) — the scale path: the stride quantizer's
    * centroid count grows as N/stride (assignment cost N²/stride,
    * measured super-linear in the stress harness), while a √N-cell
    * codebook keeps assignment N^1.5 and cells bounded. Same output
    * contract; the stride form stays the oracle-reproducible gate
    * config.
    */
  def buildWithCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, cents: DataFrame): DataFrame =
    rankCellPairs(
      IVFIndex.assignWithCentroids(vectors, idCol, vecCol, cents), k)

  /** Reciprocated edges of a [[build]]-shaped graph, as (a, b) with
    * a < b: i—j survives iff i ∈ kNN(j) AND j ∈ kNN(i). The standard
    * hub-pruning step before graph clustering — a hub that ranks in
    * everyone's top-k but reciprocates almost nobody stops chaining
    * unrelated clusters together. Self-join on the (src, n) pair key;
    * output at most |E|/2 rows.
    */
  def mutualEdges(graph: DataFrame): DataFrame =
    graph.select(col("src_id"), col("n_id")).as("f")
      .join(graph.select(col("src_id"), col("n_id")).as("r"),
        col("f.src_id") === col("r.n_id") &&
          col("f.n_id") === col("r.src_id"))
      .filter(col("f.src_id") < col("f.n_id"))
      .select(col("f.src_id").as("a"), col("f.n_id").as("b"))

  private def rankCellPairs(assignedRaw: DataFrame, k: Int): DataFrame = {
    val assigned = assignedRaw.persist(StorageLevel.MEMORY_AND_DISK)
    topK(cellPairs(assigned, assigned, _ =!= _), "src_id", k)
  }
}
