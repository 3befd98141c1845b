package graft.dedup

import graft.text.TextFeatures._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate detection via MinHash signatures + LSH banding.
  *
  * Pipeline (all shapes chosen for the 100 TB case):
  *   1. minhash band values as ONE native one-pass expression over each
  *      document's shingle array ([[graft.expressions.MinHashBands]]) —
  *      no posting explode, no signature aggregate, no exchange;
  *   2. band values from the signature columns, explode into
  *      (band_id, band_val, doc_id) and SELF-JOIN on the band key —
  *      candidates come from hash-bucket collisions only, never an
  *      all-pairs comparison. The band join shuffles on a 32-char hash
  *      (uniform, skew-resistant: a band bucket only grows when
  *      documents genuinely collide);
  *   3. candidates re-join the shingle sets (shuffle on doc id) for
  *      EXACT Jaccard verification — LSH only proposes, it never
  *      decides, so false-positive buckets cost time, not correctness.
  *
  * With b bands of r rows, a pair of Jaccard similarity s survives with
  * probability 1-(1-s^r)^b — the standard S-curve; defaults (b=6, r=2)
  * put the knee near s≈0.45, comfortably below the 0.8 default
  * threshold.
  */
object MinHashLSH {

  case class Config(
      shingleSize: Int = 3,
      numBands: Int = 6,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      maxShingleDocFreq: Option[Long] = None) {
    def numHashes: Int = numBands * rowsPerBand
  }

  /** Sharper S-curve for mid-similarity corpora: 16 bands × 4 rows
    * moves the knee (1/b)^(1/r) from ≈0.41 to 0.50 and cuts the
    * candidate-admission probability at s=0.3 from ≈0.43 to ≈0.12, so
    * buckets stop admitting the mid-similarity mass that dominates
    * candidate counts on web-scale corpora, while recall at the 0.8
    * threshold stays 1-(1-0.8⁴)¹⁶ ≈ 0.9998 (vs 0.9978 for 6×2).
    * Costs 64 signature mins per doc instead of 12. See the sweep
    * table in SURVEY §8 for the measured candidate/recall trade.
    */
  val Sharp: Config = Config(numBands = 16, rowsPerBand = 4)

  /** The 48-bit hash space all minhash values live in. */
  val Mask48: Long = (1L << 48) - 1

  /** Per-seed affine coefficients over the 48-bit base hash:
    * h_i = (a_i * h0 + b_i) mod 2^48. The multiplier is odd (a
    * bijection of Z_2^48, so no seed collapses the space) and below
    * 2^14, keeping a_i * h0 + b_i under 2^63 — no overflow under ANSI
    * arithmetic in either engine. Derived from md5 HERE, at plan-build
    * time, and embedded as literals in both the Spark expression and
    * the generated oracle SQL — the per-row cost is one multiply, one
    * add, one mask, instead of a fresh md5 per seed.
    *
    * The 13 random multiplier bits invite birthday collisions once tens
    * of seeds are drawn; two seeds sharing `a` are shifted copies of the
    * same circular ordering of Z_2^48 and their minhash coordinates
    * correlate. So multipliers are DEDUPLICATED: each index bumps a salt
    * until its `a` differs from every earlier seed's. Happens once at
    * plan-build time; the first 64 seeds draw distinct multipliers on
    * salt 0, so existing embedded literals are unchanged.
    */
  def coeffs(i: Int): (Long, Long) = coeffTable(i)

  private val coeffTable: Int => (Long, Long) = {
    val cache = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def draw(i: Int, salt: Int): (Long, Long) = {
      val tag = if (salt == 0) s"minhash-seed:$i" else s"minhash-seed:$i/$salt"
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tag.getBytes("UTF-8"))
      val a = (BigInt(1, h.take(6)).toLong % (1L << 13)) * 2 + 1
      val b = BigInt(1, h.slice(6, 12)).toLong & Mask48
      (a, b)
    }
    i => cache.synchronized {
      while (cache.length <= i) {
        val idx = cache.length
        val used = cache.iterator.map(_._1).toSet
        cache += Iterator.from(0).map(draw(idx, _))
          .find(c => !used.contains(c._1)).get
      }
      cache(i)
    }
  }

  /** (id, shingles) frame for a text column. With
    * `cfg.maxShingleDocFreq` set, shingles appearing in more than that
    * many documents are removed from every document's set BEFORE
    * signatures and verification — the boilerplate escape hatch (site
    * headers/footers shared by millions of pages otherwise minhash
    * identically and inflate band buckets into quadratic hot spots).
    * Pairs supported only by dropped shingles are then missed — the
    * same documented recall trade as [[NgramJaccard]], off by default.
    *
    * Scale shape: the doc-frequency aggregate is one map-side-combined
    * shuffle of 8-byte hashed-shingle keys (cheaper than the signature
    * aggregate that follows), and the removal is a LEFT ANTI join
    * against only the OVER-cap shingles — a tiny set (boilerplate, by
    * definition ubiquitous, has few distinct values) that AQE
    * broadcasts, so the corpus-side postings never reshuffle for it.
    */
  def docShingles(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val raw = docs.select(col(idCol).as("doc_id"),
      textShingles(col(textCol), cfg.shingleSize).as("shingles"))
    cfg.maxShingleDocFreq.fold(raw) { cap =>
      // shingles are distinct per doc (wordShingles → array_distinct),
      // so a plain count over the exploded postings IS the doc freq.
      // Two SURVEY §9 traps bite here without care: the generator must
      // be INLINE (exploding the named `shingles` column lets Catalyst
      // infer `size(shingles) > 0` and push the whole shingle tree
      // below the caller's spread-repartition — serializing tokenize
      // onto one input split), and the postings feed the df aggregate
      // AND the anti-join side, so they are persisted or the
      // projection runs twice. Measured 12.5 s → 1.9 s at sf0.1.
      // Cache reclaimed via clearCache like the other internal caches.
      val posts = docs.select(col(idCol).as("doc_id"),
          explode(textShingles(col(textCol), cfg.shingleSize)).as("sh"))
        .persist()
      val over = posts.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select("sh")
      posts.join(over, Seq("sh"), "left_anti")
        .groupBy("doc_id").agg(collect_list(col("sh")).as("shingles"))
    }
  }

  /** (doc_id, band_id, band_val) banded signature rows — the LSH
    * "index" relation. Shared by the self-join pairing below and by
    * [[IncrementalDedup]], which joins a new batch's bands against a
    * standing corpus's (at scale the corpus side is what you persist
    * to a staging table and reuse across ingest batches).
    *
    * Computed by ONE native one-pass expression over the shingle array
    * ([[graft.expressions.MinHashBands]]): the per-seed minima fold in
    * registers during a single array scan (md5 still runs once per
    * shingle) and the band hashes follow immediately — where the
    * previous explode → `groupBy(doc_id).agg(min × numHashes)` form
    * paid a posting-level hash aggregate plus a full exchange per
    * relation just to reassemble per-doc minima that were never apart
    * (r16: the signature aggregate + its exchange measured ~40% of the
    * LSH queries' cost at sf0.1). Band values are bit-identical to the
    * aggregate form (property-tested in MinHashBandsProps; every
    * consumer's DuckDB oracle re-proves it end-to-end — the oracle SQL
    * keeps the explode/GROUP BY form).
    */
  def bands(shingled: DataFrame, cfg: Config = Config()): DataFrame = {
    val (as, bs) = (0 until cfg.numHashes).map(coeffs).unzip
    shingled.select(col("doc_id"),
      posexplode(graft.expressions.MinHashBands(col("shingles"), as, bs,
        cfg.numBands, cfg.rowsPerBand)).as(Seq("band_id", "band_val")))
  }

  /** Candidate pairs (doc_a < doc_b) whose minhash signatures collide in
    * at least one band.
    */
  def candidatePairs(shingled: DataFrame, cfg: Config = Config()): DataFrame = {
    val bandRel = bands(shingled, cfg)
    bandPairs(bandRel, bandRel, ordered = true).distinct()
  }

  /** The band-key join every MinHash screen runs: the doc ids of `x`
    * and `y` (named `a` and `b`) for each band in which their [[bands]]
    * rows collide — a hash-bucket equi-join, never all-pairs. `ordered`
    * keeps only a < b (the self-join form). A pair colliding in
    * several bands repeats once per band.
    */
  private[graft] def bandPairs(x: DataFrame, y: DataFrame, ordered: Boolean,
      a: String = "doc_a", b: String = "doc_b"): DataFrame = {
    val key = col("x.band_id") === col("y.band_id") &&
      col("x.band_val") === col("y.band_val")
    x.as("x")
      .join(y.as("y"),
        if (ordered) key && col("x.doc_id") < col("y.doc_id") else key)
      .select(col("x.doc_id").as(a), col("y.doc_id").as(b))
  }

  /** Near-duplicate pairs: LSH candidates verified by exact Jaccard over
    * the shingle sets, kept at `cfg.threshold` or above.
    *
    * The shingled frame feeds THREE consumers (signature aggregation +
    * both sides of the verification join), so it is persisted: without
    * the cache each branch re-runs the tokenize/shingle projection —
    * measured 3× the whole query's cost at sf0.1. Same story at 100 TB:
    * shingling a corpus is the expensive scan; you materialize it once
    * (cache, checkpoint, or a staging table), never thrice. The cache is
    * plan-keyed and internal — callers without a handle reclaim it via
    * `spark.catalog.clearCache()` (as Verify/Bench do between queries).
    */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val shingled = docShingles(docs, idCol, textCol, cfg).persist()
    val cand = candidatePairs(shingled, cfg)
    val sa = shingled.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val sb = shingled.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa"), col("sb")).as("jaccard"))
      .filter(col("jaccard") >= cfg.threshold)
  }
}
