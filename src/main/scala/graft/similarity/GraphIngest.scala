package graft.similarity

import graft.similarity.Cosine._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental kNN-graph maintenance — the [[graft.dedup.IncrementalDedup]]
  * analogue for the graph family: fold a batch of NEW vectors into a
  * standing [[KnnGraph]] WITHOUT recomputing any corpus×corpus pair.
  *
  * The identity that makes it sound: per source, top-k over a cell's
  * pairs equals top-k over (top-k of the OLD cell pairs) ∪ (pairs
  * involving a new vector) — dropping a pair outside the old top-k can
  * never resurrect it, because new pairs only ADD candidates. So the
  * merge needs only the standing graph's k rows per corpus node plus
  * the corpus×batch and batch×batch cell-local pairs; the corpus pair
  * fanout (the Σ|cell|² term) is paid once at build time, batches pay
  * |batch|-proportional work forever after. Centroids are FROZEN from
  * the corpus (the IncrementalDedup frozen-model discipline) — new
  * vectors join existing cells, they do not re-quantize the space; a
  * re-quantization is a rebuild, scheduled like one.
  *
  * The oracle gate proves incremental ≡ recompute: the merged output
  * must hash-match a from-scratch graph over corpus ∪ batch under the
  * same frozen centroids.
  */
object GraphIngest {

  /** The standing graph's edges plus a new batch, merged: same
    * (src_id, rank, n_id, cos_sim) contract as [[KnnGraph.build]],
    * now over corpus ∪ batch. `standing` must be the
    * [[KnnGraph.build]]-shaped graph of `corpus` under the SAME
    * frozen `cents` (in production: the persisted graph table).
    */
  def merged(corpus: DataFrame, batch: DataFrame, standing: DataFrame,
      idCol: String, vecCol: String, k: Int, cents: DataFrame): DataFrame = {
    val asgC = IVFIndex.assignWithCentroids(corpus, idCol, vecCol, cents)
    val asgB = IVFIndex.assignWithCentroids(batch, idCol, vecCol, cents)
    // every pair a new vector participates in — |batch|-proportional,
    // never corpus×corpus. ONE corpus×batch join emits both
    // orientations: the cosine is symmetric bit-for-bit (the dot folds
    // a[i]·b[i] in index order, and sqrt·sqrt commutes), so the
    // reversed row equals a batch×corpus join's, and the corpus is
    // read once, with nothing to persist
    val cross = cellPairs(asgC, asgB, _ =!= _)
      .select(explode(array(
        struct(col("src_id"), col("n_id"), col("cos_sim")),
        struct(col("n_id").as("src_id"), col("src_id").as("n_id"),
          col("cos_sim")))).as("p"))
      .select("p.*")
    topK(standing.select(col("src_id"), col("n_id"), col("cos_sim"))
        .unionByName(cross)
        .unionByName(cellPairs(asgB, asgB, _ =!= _)),
      "src_id", k)
  }

  /** Frozen stride-quantizer centroid frame of `corpus` — the
    * [[IVFIndex.Config]] default's centroid set, materialized so a
    * batch can reuse it unchanged. (A trained codebook via
    * [[IVFIndex.fromKMeans]] freezes the same way.)
    */
  def strideCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      stride: Long): DataFrame =
    corpus.filter(col(idCol) % stride === 0)
      .select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm2(col("cv")))
}
