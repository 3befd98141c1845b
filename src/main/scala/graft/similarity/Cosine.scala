package graft.similarity

import graft.expressions.DotProduct
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cosine-similarity expression builders over `array<float>` embedding
  * columns.
  *
  * Dot products run through the native [[graft.expressions.DotProduct]]
  * Catalyst expression — a codegen'd tight loop. (The built-in
  * alternatives both lose: `aggregate(zip_with(...))` lambdas evaluate
  * interpreted, ~20× slower on 64-dim vectors; an unrolled `getItem`
  * chain is codegen'd but needs the dimension at plan-build time and
  * bloats the generated source with the dimension.)
  *
  * Determinism: the fold adds left-to-right, exactly the order the
  * DuckDB oracle's `list_reduce` fold uses, and float→double element
  * casts are exact — so similarity values are bit-identical across
  * engines and can be hash-compared, not just approximately checked.
  *
  * Pure per-row expressions (no UDF): trivially distributed, zero
  * shuffle.
  *
  * It also holds the candidate-and-rank kernels every similarity and
  * semantic-dedup operator shares: the cell-local pair join
  * ([[cellPairs]]), the cosine top-k ranking ([[ranked]], [[topK]],
  * [[queryTopK]]) and the screen→rerank tail of the quantized searches
  * ([[screened]], [[screenRerank]]).
  */
object Cosine {

  /** Left-fold dot product of two equal-length numeric array columns. */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  /** Squared L2 norm. */
  def norm2(a: Column): Column = DotProduct(a, a)

  /** Cosine similarity given precomputed squared norms (compute the
    * norm ONCE per vector before a join fans it out).
    */
  def cosineWithNorms(dotAB: Column, norm2A: Column, norm2B: Column): Column =
    dotAB / (sqrt(norm2A) * sqrt(norm2B))

  /** Cosine similarity of two vectors (self-contained form). */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(dot(a, b), norm2(a), norm2(b))

  /** Same-cell pairs of two assigned (vid, v, nrm, cell) frames whose
    * ids pass `ids(b.vid, a.vid)` (`_ =!= _` for every ordered pair,
    * `_ < _` for a smaller-id partner), as (src_id = a.vid,
    * n_id = b.vid, cos_sim). The join is keyed on the cell, so the cost
    * is Σ|cell|² pairs, never all-pairs.
    */
  private[graft] def cellPairs(a: DataFrame, b: DataFrame,
      ids: (Column, Column) => Column): DataFrame =
    a.as("a")
      .join(b.as("b"),
        col("b.cell") === col("a.cell") && ids(col("b.vid"), col("a.vid")))
      .select(col("a.vid").as("src_id"), col("b.vid").as("n_id"),
        cosineWithNorms(dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("cos_sim"))

  /** Each `by` group's `k` most similar rows, numbered from 1 in
    * `rank` by (cos_sim desc, n_id asc). That is a total order, so
    * the result does not depend on partitioning. Spark plans the window
    * as a WindowGroupLimit (asserted in PlanAuditSpec): each map task
    * keeps its local top k per group before the shuffle.
    */
  private[graft] def ranked(pairs: DataFrame, by: String, k: Int)
      : DataFrame =
    pairs.withColumn("rank", row_number().over(
        Window.partitionBy(by).orderBy(desc("cos_sim"), asc("n_id"))))
      .filter(col("rank") <= k)

  /** [[ranked]] as a neighbor list: (by, rank, n_id, cos_sim, extra…). */
  private[graft] def topK(pairs: DataFrame, by: String, k: Int,
      extra: String*): DataFrame =
    ranked(pairs, by, k).select(by, "rank" +: "n_id" +: "cos_sim" +: extra: _*)

  /** [[topK]] of a query × candidate join: each query (q_id, qv, qn)
    * keeps its `k` candidates (vid, v, nrm) of highest exact cosine.
    */
  private[graft] def queryTopK(joined: DataFrame, k: Int): DataFrame =
    topK(joined.select(col("q_id"), col("vid").as("n_id"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn"), col("nrm"))
          .as("cos_sim")),
      "q_id", k)

  /** Each query's `screenK` candidates nearest by the screen distance
    * `dist` (ascending, ties toward the smaller n_id): the cheap first
    * stage of a quantized search.
    */
  private[graft] def screened(cands: DataFrame, dist: String, screenK: Int)
      : DataFrame =
    cands.withColumn("srank", row_number().over(
        Window.partitionBy("q_id").orderBy(asc(dist), asc("n_id"))))
      .filter(col("srank") <= screenK)
      .drop("srank")

  /** The screen→rerank tail: [[screened]], then the exact cosine of
    * each survivor's vector (v, nrm) to its query's (pv, pn), then
    * [[topK]] per query. Reported similarities carry no quantization
    * error; only recall depends on the screen. Output: (q_id, rank,
    * n_id, cos_sim, dist).
    */
  private[graft] def screenRerank(cands: DataFrame, dist: String,
      screenK: Int, k: Int): DataFrame =
    topK(screened(cands, dist, screenK)
        .select(col("q_id"), col("n_id"), col(dist),
          cosineWithNorms(dot(col("pv"), col("v")), col("pn"), col("nrm"))
            .as("cos_sim")),
      "q_id", k, dist)
}
