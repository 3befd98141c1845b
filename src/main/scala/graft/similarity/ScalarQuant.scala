package graft.similarity

import graft.expressions.DotProduct
import graft.similarity.Cosine._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 scalar-quantized nearest-neighbor screen with exact re-ranking —
  * the memory-bandwidth face of ANN (vs [[HyperplaneLSH]]'s and
  * [[IVFIndex]]'s candidate-pruning faces).
  *
  * Each dimension is affinely mapped to the integer grid 0..255 using
  * per-dimension corpus min/max (one tiny aggregate, broadcast back as a
  * single row). Candidate generation then ranks by squared L2 distance
  * in the quantized space — every distance is an exact small integer
  * (≤ 64·255² < 2²³), so the screen is bit-reproducible and, at
  * production scale, runs over a corpus representation 4× narrower than
  * float32 (the scan is bandwidth-bound; int8 codes are also what a GPU
  * or SIMD kernel would consume). The top `screenK` survivors per query
  * are re-ranked by EXACT float cosine ([[Cosine.screenRerank]], the
  * tail [[ProductQuant]] and [[IvfPq]] share), so reported similarities
  * carry no quantization error — only recall can differ from brute
  * force.
  *
  * Distances use the `|q|² + |d|² − 2·q·d` expansion: norms are computed
  * once per vector, the cross term is one codegen'd [[DotProduct]], and
  * the oracle mirrors the operand order so integer distances match
  * exactly. Constant dimensions quantize to 0 (span-zero guard) — they
  * contribute nothing to distances, which is correct.
  *
  * Scale shape (same as [[BruteForceKNN]]): query side broadcasts, the
  * corpus is scanned once with no shuffle, and both top-k windows are
  * WindowGroupLimit-partial, so ~screenK·|queries| rows move per stage
  * regardless of corpus size.
  */
object ScalarQuant {

  /** `screenK`: candidates kept per query by the quantized screen before
    * exact re-rank (recall knob; ≥ k).
    */
  case class Config(levels: Int = 255, screenK: Int = 20)

  /** Per-dimension (mn, mx) corpus bounds as ONE row of two arrays. */
  private def bounds(prep: DataFrame): DataFrame =
    prep.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("mn"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("mx"))

  /** Top-k neighbors per query: quantized-L2 screen to `screenK`, exact
    * cosine re-rank to k. Output: (q_id, rank, n_id, cos_sim, dist_q).
    */
  def topK(vectors: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, cfg: Config = Config()): DataFrame = {
    require(cfg.screenK >= k, "screenK must be >= k")
    val prep = vectors
      .select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm2(col("v")))
    val lv = lit(cfg.levels.toDouble)
    val quantized = prep.crossJoin(broadcast(bounds(prep)))
      .withColumn("qv", transform(col("v"), (x, i) => {
        val mn = element_at(col("mn"), i + 1)
        val span = element_at(col("mx"), i + 1) - mn
        when(span === 0.0, lit(0.0))
          .otherwise(floor((x - mn) * lv / span).cast("double"))
      }))
      .withColumn("qn2", DotProduct(col("qv"), col("qv")))
      .select("vid", "v", "nrm", "qv", "qn2")
    val queries = quantized.filter(isQuery(col("vid")))
      .select(col("vid").as("q_id"), col("v").as("pv"), col("nrm").as("pn"),
        col("qv").as("pqv"), col("qn2").as("pqn2"))
    val cands = quantized.join(broadcast(queries), col("vid") =!= col("q_id"))
      .select(col("q_id"), col("vid").as("n_id"), col("pv"), col("pn"),
        col("v"), col("nrm"),
        (col("pqn2") + col("qn2") -
          lit(2.0) * DotProduct(col("pqv"), col("qv"))).cast("long")
          .as("dist_q"))
    screenRerank(cands, "dist_q", cfg.screenK, k)
  }
}
