package graft.similarity

import graft.expressions.DotProduct
import graft.similarity.Cosine._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization (PQ) nearest-neighbor search: the standard
  * billion-scale ANN compression. The vector space splits into `m`
  * subspaces; each subspace gets its own [[KMeans]]-trained codebook of
  * `codeK` centroids; a document is stored as `m` small codes (here
  * 8 × 4 bits of information per 64-dim vector vs 64 × 8 bits for
  * [[ScalarQuant]] — a further 8× compression); a query scores a
  * document by summing, per subspace, its precomputed distance to the
  * document's code centroid (asymmetric distance computation — the
  * query side stays unquantized, only documents are coded).
  *
  * Search shape: document codes are computed by the same codebook
  * argmin the trainer uses ([[graft.expressions.NearestCentroid]],
  * zero shuffle);
  * each query carries one tiny literal-derived LUT
  * (`map(cid → dist)` per subspace, built from the same trained
  * centroids), so scoring a candidate is `m` map lookups and an add
  * chain — no vector arithmetic per pair at all. The top `screenK`
  * survivors re-rank by EXACT float cosine ([[Cosine.screenRerank]],
  * the [[ScalarQuant]] discipline: reported similarities carry no
  * quantization error, only recall can move).
  *
  * Determinism: training inherits [[KMeans]]'s fixed-point exactness
  * per subspace (quantize-then-slice ≡ slice-then-quantize — floor is
  * elementwise); every ADC distance is `qn_s + cn_s − 2·q_s·c_s`
  * summed left-to-right over subspaces — the DuckDB oracle recomputes
  * all `m` training chains, the code assignments, the per-(query, cid)
  * distance table and the same sum, so the whole pipeline
  * hash-matches.
  */
object ProductQuant {

  /** `m` subspaces × `codeK` codes; `screenK` candidates kept per query
    * before exact re-rank. Vector dim must divide evenly by `m`.
    */
  case class Config(m: Int = 8, codeK: Int = 16, iters: Int = 2,
      screenK: Int = 20, scaleBits: Int = 20) {
    require(m >= 1 && codeK >= 2 && iters >= 1 && screenK >= 1)
    def kmCfg: KMeans.Config =
      KMeans.Config(k = codeK, iters = iters, scaleBits = scaleBits)
  }

  /** Per-subspace trained codebooks (driver-side, k·d/m doubles each).
    *
    * Trains ALL `m` subspaces through SHARED jobs rather than m
    * independent [[KMeans.centroids]] runs: one seed collect covers
    * every subspace (the seed rows' full vectors slice driver-side),
    * and each refinement is ONE [[KMeans.refinePass]] over the m slice
    * views, collecting m·k·(dim/m) sums. Identical arithmetic to the
    * per-subspace trainer — integer sums don't care how the jobs are
    * batched.
    */
  def train(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
      cfg: Config = Config()): Seq[Seq[KMeans.Centroid]] = {
    val prep = KMeans.quantize(vectors, idCol, vecCol, cfg.kmCfg).persist()
    try trainPrepared(prep, dim, cfg)
    finally prep.unpersist(blocking = false)
  }

  /** [[train]] over an existing (vid, q: quantized array<double>, …)
    * frame — lets [[topK]] share one persisted prep with the search.
    */
  private[similarity] def trainPrepared(prep: DataFrame, dim: Int,
      cfg: Config): Seq[Seq[KMeans.Centroid]] =
    KMeans.train(prep, books(KMeans.seedRows(prep, cfg.codeK), dim, cfg))

  /** The `m` subspace books, each seeded by slicing the first `codeK`
    * seed rows' full vectors to its subspace — one seed collect feeds
    * every subspace (and, in [[IvfPq]], the coarse book too).
    */
  private[similarity] def books(seedRows: Seq[(Long, Array[Double])],
      dim: Int, cfg: Config): Seq[KMeans.Book] = {
    require(dim % cfg.m == 0, s"dim $dim must divide by m=${cfg.m}")
    val sub = dim / cfg.m
    (0 until cfg.m).map { s =>
      KMeans.Book(s * sub, full = false, KMeans.fromSeedRows(
        seedRows.take(cfg.codeK).map { case (vid, full) =>
          (vid, full.slice(s * sub, (s + 1) * sub))
        }), cfg.iters)
    }
  }

  /** Top-k neighbors per query: ADC screen over PQ codes to `screenK`,
    * exact cosine re-rank to k. Output:
    * (q_id, rank, n_id, cos_sim, dist_pq).
    */
  def topK(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
      isQuery: Column => Column, k: Int, cfg: Config = Config()): DataFrame = {
    require(cfg.screenK >= k, "screenK must be >= k")
    val sub = dim / cfg.m

    // ONE persisted quantized frame feeds both the trainer's iteration
    // scans and the search's code/LUT projections (the trainPrepared
    // doc-comment contract).
    val prep = KMeans.prepared(vectors, idCol, vecCol, cfg.kmCfg.scale)
      .drop("qn").persist()
    val books = trainPrepared(prep, dim, cfg)
    def qs(s: Int): Column = slice(col("q"), s * sub + 1, sub)
    def qns(s: Int): Column = DotProduct(qs(s), qs(s))

    // documents: m codegen'd argmins → m codes (a pure projection)
    val coded = prep.select(
      col("vid") +: col("v") +: col("nrm") +:
        books.zipWithIndex.map { case (cents, s) =>
          KMeans.bestStruct(cents, qs(s), qns(s)).getField("c").as(s"c$s")
        }: _*)

    // queries: per subspace a cid→distance map (ADC LUT) — one
    // flat-array CentroidDistMap per codebook, not k literal
    // DotProduct trees (constant plan size; bit-equal arithmetic)
    val luts = prep.filter(isQuery(col("vid")))
      .select(
        col("vid").as("q_id") +: col("v").as("pv") +: col("nrm").as("pn") +:
          books.zipWithIndex.map { case (cents, s) =>
            graft.expressions.CentroidDistMap(qs(s), qns(s),
              cents.map(_.cid), cents.map(_.cn), cents.map(_.cv))
              .as(s"lut$s")
          }: _*)

    val cands = coded.join(broadcast(luts), col("vid") =!= col("q_id"))
      .select(col("q_id"), col("vid").as("n_id"), col("pv"), col("pn"),
        col("v"), col("nrm"), adc(cfg.m).as("dist_pq"))
    screenRerank(cands, "dist_pq", cfg.screenK, k)
  }

  /** The asymmetric distance of a coded candidate to a query: `m` LUT
    * lookups (`lut_s[c_s]`) summed left to right over the subspaces.
    */
  private[similarity] def adc(m: Int): Column =
    (0 until m).map(s => element_at(col(s"lut$s"), col(s"c$s")))
      .reduceLeft(_ + _)
}
