package graft.similarity

import graft.similarity.Cosine._
import graft.text.TextFeatures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One NN-descent refinement round (Dong, Moses & Li, WWW 2011) over a
  * [[KnnGraph]]: "a neighbor of a neighbor is probably a neighbor".
  *
  * The cell-local graph trades recall for cost — vectors in different
  * coarse cells are never compared, and because every base edge stays
  * inside a cell, neighbor-of-neighbor expansion ALONE can never cross
  * a cell boundary (the base graph's components are cell-contained).
  * NN-descent's answer is its random initialization: candidates start
  * as a random graph, which spans cells. The distributed, oracle-
  * replayable analogue here is md5 HASH-BUCKET seeding — vectors
  * hashing to the same bucket (of `seedBuckets`) become candidate
  * pairs, a deterministic stand-in for random mini-batch init. A round
  * then scores: seed pairs ∪ undirected base edges ∪ their two-hop
  * expansion, exactly, and keeps the new top-k per source. Cross-cell
  * true neighbors enter through a shared bucket this round, and through
  * any shared neighbor in subsequent rounds (further rounds are the
  * same plan iterated on the refined graph).
  *
  * Scale shape: the undirected edge list is ≤ 2·k·N rows; two-hop
  * expansion is an equi-join of that list with itself on the middle
  * vertex; seeds are a self-join on the hash bucket with E[bucket
  * size] = N/`seedBuckets` (grow `seedBuckets` ∝ N to keep it
  * bounded, same rule as IVF cell count); re-scoring joins candidates
  * to the vector table twice on ids; the final top-k is
  * [[Cosine.topK]], the ranking [[KnnGraph]] uses — WindowGroupLimit
  * keeps ≤ k rows per source per partition ahead of the shuffle.
  * Nothing is all-pairs, nothing collects to the driver.
  */
object NnDescent {

  /** (src_id, rank, n_id, cos_sim): the refined top-k graph after one
    * candidate-expansion round over `base` (a [[KnnGraph.build]]-shaped
    * frame). A source appears iff it has at least one candidate —
    * an edge, a two-hop path, or a shared seed bucket.
    */
  def refineOver(vectors: DataFrame, idCol: String, vecCol: String,
      base: DataFrame, k: Int, seedBuckets: Int): DataFrame = {
    require(seedBuckets >= 1 && (seedBuckets & (seedBuckets - 1)) == 0,
      s"seedBuckets must be a power of two >= 1, got $seedBuckets")
    val prep = vectors
      .select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val undirected = base.select(col("src_id").as("a"), col("n_id").as("b"))
      .union(base.select(col("n_id").as("a"), col("src_id").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val twoHop = undirected.as("e1")
      .join(undirected.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e2.b").as("b"))
      .filter(col("a") =!= col("b"))
    val bucketed = prep.select(col("vid"),
      TextFeatures.md5PrefixLong(col("vid").cast("string"), 12)
        .bitwiseAND(lit((seedBuckets - 1).toLong)).as("sb"))
    val seeds = bucketed.as("s1")
      .join(bucketed.as("s2"),
        col("s2.sb") === col("s1.sb") && col("s2.vid") =!= col("s1.vid"))
      .select(col("s1.vid").as("a"), col("s2.vid").as("b"))
    val candidates = undirected.union(twoHop).union(seeds).distinct()
    topK(candidates
        .join(prep, col("a") === col("vid"))
        .select(col("a"), col("b"), col("v").as("av"), col("nrm").as("an"))
        .join(prep, col("b") === col("vid"))
        .select(col("a").as("src_id"), col("b").as("n_id"),
          cosineWithNorms(dot(col("av"), col("v")),
            col("an"), col("nrm")).as("cos_sim")),
      "src_id", k)
  }

  /** [[KnnGraph.build]] followed by one [[refineOver]] round. */
  def refine(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
      cfg: IVFIndex.Config = IVFIndex.Config(),
      seedBuckets: Int = 256): DataFrame =
    refineOver(vectors, idCol, vecCol,
      KnnGraph.build(vectors, idCol, vecCol, k, cfg), k, seedBuckets)
}
