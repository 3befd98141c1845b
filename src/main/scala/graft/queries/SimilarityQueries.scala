package graft.queries

import graft.similarity._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-verifiable similarity-search queries over the `embeddings`
  * table (array<float> vectors).
  *
  * The oracle reproduces cosine values BIT-EXACTLY: both engines widen
  * float→double, fold products left-to-right (`aggregate` ↔
  * `list_reduce`), and apply the same sqrt/divide — IEEE ops are
  * deterministic given operand order, so no tolerance is needed.
  */
object SimilarityQueries {

  private val K = 10
  private val QueryCount = 8 // query set = vec_id < 8
  // graph-family constants live HERE, above every val that
  // interpolates them into oracle SQL: object vals initialize in
  // declaration order, and a forward reference silently reads 0
  // (caught once as `& -1` in a generated mask)
  private val KnnK = 5
  private val NndSeedBuckets = 128
  private val RecallSrc = 64 // recall probe set: sources with vec_id < 64
  private val Dim = 64 // embeddings table dimension (TESTDATA.md)
  private[queries] val lshCfg = HyperplaneLSH.Config()
  private val ivfCfg = IVFIndex.Config()
  import OracleDialect.foldDot

  /** `planes AS (SELECT [..] AS p0, ...)` CTE with the hyperplane
    * literals — 3-decimal values round-trip to identical doubles.
    */
  private[queries] val planesCteSql: String = {
    val lists = HyperplaneLSH.planes(lshCfg).zipWithIndex
      .map { case (plane, p) =>
        plane.map(v => f"$v%.3f").mkString("[", ", ", s"]::DOUBLE[] AS p$p")
      }.mkString(",\n    ")
    s"planes AS (SELECT\n    $lists)"
  }

  /** LSH bucket id of `n.v` given the planes CTE is joined as `pl`. */
  private[queries] val bucketSql: String =
    (0 until lshCfg.numPlanes).map { p =>
      s"(CASE WHEN ${foldDot("n.v", s"pl.p$p")} > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n     + ")

  // ----------------------------------------------------------- brute force

  def simTopk(spark: SparkSession, dir: String): DataFrame =
    BruteForceKNN.topK(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, K)
      .orderBy("q_id", "rank")

  val simTopkSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |p AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM n q CROSS JOIN n d
       |  WHERE q.vec_id < $QueryCount AND d.vec_id <> q.vec_id)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------ lsh

  def simLshBucket(spark: SparkSession, dir: String): DataFrame =
    HyperplaneLSH.topKInBucket(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, K, lshCfg)
      .orderBy("q_id", "rank")

  val simLshBucketSql: String =
    s"""WITH $planesCteSql,
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |b AS (SELECT vec_id, v, nrm,
       |    $bucketSql AS bucket
       |  FROM n CROSS JOIN planes pl),
       |p AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM b q JOIN b d ON d.bucket = q.bucket AND d.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QueryCount)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------ multiprobe

  private val MpProbes = 3 // own bucket + 2 lowest-margin bit flips

  /** Multi-probe LSH ([[graft.similarity.HyperplaneLSH.topKMultiProbe]]):
    * each query also searches the buckets reached by flipping its
    * $MpProbes - 1 lowest-margin sign bits. Gate-only: runtime face is
    * `sim_lsh_bucket`'s bucket equi-join (the probe fan-out explodes
    * `numPlanes` rows per QUERY, not per corpus vector).
    */
  def simLshMultiprobe(spark: SparkSession, dir: String): DataFrame =
    HyperplaneLSH.topKMultiProbe(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, K, MpProbes, lshCfg)
      .orderBy("q_id", "rank")

  val simLshMultiprobeSql: String = {
    val marginArms = (0 until lshCfg.numPlanes).map { p =>
      s"""SELECT vec_id, v, nrm, bucket, $p AS p,
         |    abs(${foldDot("v", s"pl.p$p")}) AS mg
         |  FROM b JOIN planes pl ON TRUE WHERE vec_id < $QueryCount"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $planesCteSql,
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |b AS (SELECT vec_id, v, nrm,
       |    $bucketSql AS bucket
       |  FROM n CROSS JOIN planes pl),
       |m AS ($marginArms),
       |flips AS (SELECT vec_id, v, nrm, xor(bucket, 1 << p) AS pb FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY mg, p) AS rn FROM m)
       |  WHERE rn <= ${MpProbes - 1}),
       |probes AS (SELECT vec_id, v, nrm, bucket AS pb FROM b
       |    WHERE vec_id < $QueryCount
       |  UNION ALL SELECT vec_id, v, nrm, pb FROM flips),
       |p AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM probes q JOIN b d ON d.bucket = q.pb AND d.vec_id <> q.vec_id)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------ binary quant

  // 128-bit fingerprints at 12× oversampling hold recall@10 = 0.95 on
  // the weakly-structured test corpus (true top-10 sit at mean cos
  // ≈ 0.29 — a hostile regime; production embeddings with real
  // neighbor structure need far less of both)
  private val BqCandidates = 120
  private val BqBits = 128

  /** Binary sign-quantization search
    * ([[graft.similarity.BinaryQuant.topKReranked]]): pack each
    * vector's sign pattern into dim/32 integer words, screen the
    * corpus by Hamming distance on the 16-byte codes (a 16× scan-
    * bandwidth cut vs the float column), exact-cosine re-rank the
    * $BqCandidates survivors. Gate-only: the screen is the benched
    * `sim_topk` broadcast-scan + WindowGroupLimit face (integer
    * bit_count instead of the float dot), the candidate re-join is
    * `sim_ivfpq`'s screen-join face. Constants: see BqBits above.
    */
  def simBinquant(spark: SparkSession, dir: String): DataFrame =
    BinaryQuant.topKReranked(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, Dim, BqBits, BqCandidates, K)
      .orderBy("q_id", "rank")

  val simBinquantSql: String = {
    // plane CTE + one sign CASE per bit, MSB-first weights — generated
    // from the same md5-derived 3-decimal constants BinaryQuant bakes
    // into the plan, so the two engines fingerprint bit-identically
    val pls = BinaryQuant.planes(BqBits, Dim)
    val planeCte = pls.zipWithIndex.map { case (plane, i) =>
      plane.map(v => f"$v%.3f").mkString("[", ", ", s"]::DOUBLE[] AS bp$i")
    }.mkString("bpl AS (SELECT\n    ", ",\n    ", ")")
    val words = (0 until BqBits / BinaryQuant.WordBits).map { w =>
      (0 until BinaryQuant.WordBits).map { j =>
        val i = w * BinaryQuant.WordBits + j
        val wt = 1L << (BinaryQuant.WordBits - 1 - j)
        s"(CASE WHEN ${foldDot("v", s"bpl.bp$i")} > 0" +
          s" THEN ${wt} ELSE 0 END)"
      }.mkString("", "\n     + ", s" AS c$w")
    }.mkString(",\n    ")
    val ham = (0 until BqBits / BinaryQuant.WordBits)
      .map(w => s"bit_count(xor(q.c$w, d.c$w))").mkString(" + ")
    s"""WITH $planeCte,
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm,
       |    $words
       |  FROM v CROSS JOIN bpl),
       |p AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    CAST($ham AS BIGINT) AS hamming
       |  FROM n q JOIN n d ON d.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QueryCount),
       |cand AS (SELECT q_id, n_id, hamming FROM (
       |    SELECT q_id, n_id, hamming,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |                         ORDER BY hamming, n_id) AS hrank
       |    FROM p)
       |  WHERE hrank <= $BqCandidates),
       |r AS (SELECT c.q_id, c.n_id, c.hamming,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM cand c
       |  JOIN n q ON q.vec_id = c.q_id
       |  JOIN n d ON d.vec_id = c.n_id)
       |SELECT q_id, rank, n_id, hamming, cos_sim FROM (
       |  SELECT q_id, n_id, hamming, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM r)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------- hard mining

  private val HardMargin = 0.05

  /** Batch-hard triplet mining
    * ([[graft.similarity.HardMining.hardestTriplets]]): per anchor,
    * the same-label vector at MINIMUM cosine and the different-label
    * vector at MAXIMUM cosine, plus the margin-violation flag — the
    * metric-learning curriculum read. Gate-only: the anchor-broadcast
    * corpus scan is the benched `sim_topk` face; the extremes fold in
    * one map-side-combined `min/max(struct)` aggregate (no window, no
    * second scan).
    */
  def simHardmine(spark: SparkSession, dir: String): DataFrame =
    HardMining.hardestTriplets(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", "label", _ < QueryCount, HardMargin)
      .orderBy("q_id")

  val simHardmineSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
       |    FROM embeddings),
       |n AS (SELECT vec_id, v, label, ${foldDot("v", "v")} AS nrm FROM v),
       |p AS (SELECT q.vec_id AS q_id, q.label AS qlbl,
       |    d.vec_id AS n_id, d.label AS lbl,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM n q JOIN n d ON d.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QueryCount),
       |ext AS (SELECT q_id, qlbl AS label,
       |    min(cos_sim) FILTER (WHERE lbl = qlbl) AS pos_cos,
       |    max(cos_sim) FILTER (WHERE lbl <> qlbl) AS neg_cos
       |  FROM p GROUP BY q_id, qlbl),
       |agg AS (SELECT e.q_id, e.label, e.pos_cos, e.neg_cos,
       |    min(CASE WHEN p.lbl = e.label AND p.cos_sim = e.pos_cos
       |             THEN p.n_id END) AS pos_id,
       |    min(CASE WHEN p.lbl <> e.label AND p.cos_sim = e.neg_cos
       |             THEN p.n_id END) AS neg_id
       |  FROM ext e JOIN p ON p.q_id = e.q_id
       |  GROUP BY e.q_id, e.label, e.pos_cos, e.neg_cos)
       |SELECT q_id, label, pos_id, pos_cos, neg_id, neg_cos,
       |  (pos_cos - neg_cos) < $HardMargin AS violated
       |FROM agg ORDER BY q_id""".stripMargin

  // ----------------------------------------------------------- eval

  /** Ranking-quality leaderboard row ([[RetrievalEval.metrics]]):
    * multi-probe LSH scored against brute-force truth — hits,
    * precision@k, recall@k, reciprocal rank, all rational (no logs)
    * so the eval frame itself hash-verifies. Gate-only: runtime faces
    * are `sim_topk` + `sim_lsh_multiprobe`'s searches plus one
    * query×k-scale join.
    */
  def simEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    RetrievalEval.metrics(
        BruteForceKNN.topK(emb, "vec_id", "embedding", _ < QueryCount, K),
        HyperplaneLSH.topKMultiProbe(emb, "vec_id", "embedding",
          _ < QueryCount, K, MpProbes, lshCfg),
        K)
      .orderBy("q_id")
  }

  val simEvalSql: String = {
    val marginArms = (0 until lshCfg.numPlanes).map { p =>
      s"""SELECT vec_id, v, nrm, bucket, $p AS p,
         |    abs(${foldDot("v", s"pl.p$p")}) AS mg
         |  FROM b JOIN planes pl ON TRUE WHERE vec_id < $QueryCount"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $planesCteSql,
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |b AS (SELECT vec_id, v, nrm,
       |    $bucketSql AS bucket
       |  FROM n CROSS JOIN planes pl),
       |m AS ($marginArms),
       |flips AS (SELECT vec_id, v, nrm, xor(bucket, 1 << p) AS pb FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY mg, p) AS rn FROM m)
       |  WHERE rn <= ${MpProbes - 1}),
       |probes AS (SELECT vec_id, v, nrm, bucket AS pb FROM b
       |    WHERE vec_id < $QueryCount
       |  UNION ALL SELECT vec_id, v, nrm, pb FROM flips),
       |ap AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM probes q JOIN b d ON d.bucket = q.pb AND d.vec_id <> q.vec_id),
       |apx AS (SELECT q_id, n_id, rank FROM (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM ap) WHERE rank <= $K),
       |tp AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM n q CROSS JOIN n d
       |  WHERE q.vec_id < $QueryCount AND d.vec_id <> q.vec_id),
       |tru AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM tp) WHERE rank <= $K),
       |tn AS (SELECT q_id, count(*) AS n_truth FROM tru GROUP BY q_id),
       |mt AS (SELECT a.q_id, a.rank,
       |    CASE WHEN t.n_id IS NOT NULL THEN 1 END AS hit
       |  FROM apx a LEFT JOIN tru t
       |    ON t.q_id = a.q_id AND t.n_id = a.n_id),
       |pq AS (SELECT q_id, count(hit) AS hits,
       |    min(CASE WHEN hit = 1 THEN rank END) AS first_rel
       |  FROM mt GROUP BY q_id)
       |SELECT tn.q_id AS q_id,
       |  COALESCE(hits, 0) AS hits,
       |  CAST(COALESCE(hits, 0) AS DOUBLE) / $K AS precision,
       |  CAST(COALESCE(hits, 0) AS DOUBLE) / n_truth AS recall,
       |  COALESCE(1.0 / first_rel, 0.0) AS rr
       |FROM tn LEFT JOIN pq ON pq.q_id = tn.q_id
       |ORDER BY tn.q_id""".stripMargin
  }

  // ------------------------------------------------------------------ ivf

  def simIvf(spark: SparkSession, dir: String): DataFrame =
    IVFIndex.topK(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, K, ivfCfg)
      .orderBy("q_id", "rank")

  val simIvfSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |probes AS (SELECT q_id, qv, qn, cell FROM (
       |  SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql("q.v", "q.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n q CROSS JOIN c WHERE q.vec_id < $QueryCount)
       |  WHERE rn <= ${ivfCfg.nProbe}),
       |p AS (SELECT pr.q_id, a.vid AS n_id,
       |    ${cosSql("pr.qv", "pr.qn", "a.v", "a.nrm")} AS cos_sim
       |  FROM probes pr JOIN asg a ON a.cell = pr.cell
       |  WHERE a.vid <> pr.q_id)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------------ knn graph

  /** Cell-local k-NN GRAPH ([[graft.similarity.KnnGraph]]): top-$KnnK
    * cosine neighbors of EVERY vector, candidates restricted to the
    * vector's own IVF cell — the all-sources face of `sim_ivf` and the
    * artifact NN-descent / graph clustering / SemDeDup++ consume. The
    * oracle replays cell assignment, the cell self-join, and the
    * (cos DESC, n_id) rank window, so the hash gate pins candidate
    * generation AND ranking.
    */
  def simKnnGraph(spark: SparkSession, dir: String): DataFrame =
    KnnGraph.build(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", KnnK, ivfCfg)
      .orderBy("src_id", "rank")

  val simKnnGraphSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vid AS src_id, b.vid AS n_id,
       |    ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
       |  FROM asg a JOIN asg b ON b.cell = a.cell AND b.vid <> a.vid)
       |SELECT src_id, rank, n_id, cos_sim FROM (
       |  SELECT src_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p)
       |WHERE rank <= $KnnK ORDER BY src_id, rank""".stripMargin
  }

  // ---------------------------------------------------------- embed drift

  /** Embedding-space drift ([[graft.similarity.EmbedDrift]]): per-label
    * centroid cosine between the even- and odd-id snapshot halves —
    * the vector-space `profile_diff`. Fixed-point component sums keep
    * every per-(label, dim) aggregate an exact integer, so the oracle
    * reproduces the centroids (and the one cosine per label)
    * bit-for-bit. Gate-only: runtime face is the `embed_kmeans`
    * (label, dim) sum shape.
    */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    EmbedDrift.centroidShift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "label", "embedding")
      .orderBy("label")
  }

  val embedDriftSql: String = {
    val scale = "1048576e0" // 2^20, EmbedDrift.ScaleBits
    def side(tag: String, parity: Int): String =
      s"""ex_$tag AS (SELECT label,
         |  unnest([{'pos': i, 'qx': floor(v[i] * $scale)}
         |    for i in generate_series(1, len(v))], recursive := true)
         |  FROM base WHERE vec_id % 2 = $parity),
         |sums_$tag AS (SELECT label, pos, sum(qx) AS s, count(*) AS cnt
         |  FROM ex_$tag GROUP BY 1, 2),
         |cent_$tag AS (SELECT label, list(s / cnt ORDER BY pos) AS cv,
         |  max(cnt) AS n FROM sums_$tag GROUP BY label)""".stripMargin
    s"""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |${side("a", 0)},
       |${side("b", 1)}
       |SELECT a.label AS label, a.n AS n_a, b.n AS n_b,
       |  ${foldDot("a.cv", "b.cv")}
       |    / (sqrt(${foldDot("a.cv", "a.cv")})
       |       * sqrt(${foldDot("b.cv", "b.cv")})) AS centroid_cos
       |FROM cent_a a JOIN cent_b b ON b.label = a.label
       |ORDER BY label""".stripMargin
  }

  // ------------------------------------------------------ nn-descent recall

  /** Incremental kNN-graph maintenance
    * ([[graft.similarity.GraphIngest]]): the corpus is vec_id % 5 ≠ 0,
    * the ingest batch the remaining 20%; the standing graph (built
    * under FROZEN corpus centroids) folds the batch in via
    * |batch|-proportional cell pairs — corpus×corpus pairs are never
    * recomputed. The oracle rebuilds the whole graph from scratch over
    * corpus ∪ batch under the same frozen centroids, so the hash match
    * is the incremental ≡ recompute identity (the `q_agg_upsert` /
    * `hll_upsert` pattern for the graph family). Gate-only: runtime
    * face is `sim_knn_graph`'s.
    */
  def simGraphIncr(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val cents = GraphIngest.strideCentroids(corpus, "vec_id", "embedding",
      ivfCfg.centroidStride)
    val standing = KnnGraph.buildWithCentroids(corpus, "vec_id",
      "embedding", KnnK, cents)
    GraphIngest.merged(corpus, batch, standing, "vec_id", "embedding",
        KnnK, cents)
      .orderBy("src_id", "rank")
  }

  val simGraphIncrSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0 AND vec_id % 5 <> 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vid AS src_id, b.vid AS n_id,
       |    ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
       |  FROM asg a JOIN asg b ON b.cell = a.cell AND b.vid <> a.vid)
       |SELECT src_id, rank, n_id, cos_sim FROM (
       |  SELECT src_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p)
       |WHERE rank <= $KnnK ORDER BY src_id, rank""".stripMargin
  }

  /** IVF layout audit: per-cell population of the coarse quantizer —
    * the `zorder_stats` analogue for the vector index. |cell| skew is
    * THE operational health metric of every cell-local operator here
    * (pair cost is Σ|cell|², probe cost ∝ probed-cell sizes); this is
    * the frame you read before growing the centroid count or
    * subdividing a hot cell. Gate-only: runtime face is the IVF
    * assign aggregate every sim_* query already pays.
    */
  def simIvfStats(spark: SparkSession, dir: String): DataFrame =
    IVFIndex.assign(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", ivfCfg)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vid")).as("min_vid"), max(col("vid")).as("max_vid"))
      .orderBy("cell")

  val simIvfStatsSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, cell FROM (
       |  SELECT n.vec_id AS vid, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1)
       |SELECT cell, count(*) AS n_vectors,
       |  min(vid) AS min_vid, max(vid) AS max_vid
       |FROM asg GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** GATED recall accounting for the graph family: exact-top-k hit
    * counts of the cell-local graph vs one NN-descent round, over the
    * `vec_id < $RecallSrc` probe sources — (variant, hits, denom) with
    * denom = |exact rows|, all integers, so the measured improvement
    * is hash-pinned, not asserted in a spec alone. Gate-only: runtime
    * faces are `sim_knn_graph`/`sim_nn_descent`'s.
    */
  def simNndRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val exact = BruteForceKNN
      .topK(emb, "vec_id", "embedding", _ < RecallSrc, KnnK)
      .select(col("q_id"), col("n_id").as("e_id"))
    def hits(g: DataFrame, variant: String): DataFrame = {
      val probe = g.filter(col("src_id") < RecallSrc)
        .select(col("src_id"), col("n_id"))
      probe.join(exact,
          probe("src_id") === exact("q_id") && probe("n_id") === exact("e_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exact.agg(count(lit(1)).as("denom")))
        .select(lit(variant).as("variant"), col("hits"), col("denom"))
    }
    hits(KnnGraph.build(emb, "vec_id", "embedding", KnnK, ivfCfg), "base")
      .unionByName(hits(
        NnDescent.refine(emb, "vec_id", "embedding", KnnK, ivfCfg,
          NndSeedBuckets), "refined"))
      .orderBy("variant")
  }

  val simNndRecallSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    val sbHash = OracleDialect.hexPrefixToLong(
      "md5(CAST(vid AS VARCHAR))", 12)
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vid AS src_id, b.vid AS n_id,
       |    ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
       |  FROM asg a JOIN asg b ON b.cell = a.cell AND b.vid <> a.vid),
       |base AS (SELECT src_id, n_id FROM (
       |  SELECT src_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p) WHERE rank <= $KnnK),
       |und AS (SELECT DISTINCT a, b FROM (
       |  SELECT src_id AS a, n_id AS b FROM base
       |  UNION ALL SELECT n_id, src_id FROM base)),
       |twohop AS (SELECT e1.a AS a, e2.b AS b FROM und e1
       |  JOIN und e2 ON e2.a = e1.b WHERE e1.a <> e2.b),
       |sb AS (SELECT vid, (CAST($sbHash AS BIGINT)
       |    & ${NndSeedBuckets - 1}) AS sb FROM asg),
       |seeds AS (SELECT s1.vid AS a, s2.vid AS b FROM sb s1
       |  JOIN sb s2 ON s2.sb = s1.sb AND s2.vid <> s1.vid),
       |cand AS (SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM und UNION ALL SELECT a, b FROM twohop
       |  UNION ALL SELECT a, b FROM seeds)),
       |sc AS (SELECT cand.a AS src_id, cand.b AS n_id,
       |    ${cosSql("x.v", "x.nrm", "y.v", "y.nrm")} AS cos_sim
       |  FROM cand JOIN n x ON x.vec_id = cand.a
       |    JOIN n y ON y.vec_id = cand.b),
       |refined AS (SELECT src_id, n_id FROM (
       |  SELECT src_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM sc) WHERE rank <= $KnnK),
       |bf AS (SELECT q_id, n_id FROM (
       |  SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql("q.v", "q.nrm", "d.v", "d.nrm")} DESC,
       |        d.vec_id) AS rank
       |  FROM n q CROSS JOIN n d
       |  WHERE q.vec_id < $RecallSrc AND d.vec_id <> q.vec_id)
       |  WHERE rank <= $KnnK),
       |denom AS (SELECT count(*) AS denom FROM bf)
       |SELECT 'base' AS variant, count(*) AS hits, max(d.denom) AS denom
       |  FROM base g JOIN bf ON bf.q_id = g.src_id AND bf.n_id = g.n_id
       |  CROSS JOIN denom d WHERE g.src_id < $RecallSrc
       |UNION ALL
       |SELECT 'refined', count(*), max(d.denom)
       |  FROM refined g JOIN bf ON bf.q_id = g.src_id AND bf.n_id = g.n_id
       |  CROSS JOIN denom d WHERE g.src_id < $RecallSrc
       |ORDER BY variant""".stripMargin
  }

  // -------------------------------------------------------- graph search

  private val gsCfg = GraphSearch.Config(beamWidth = 8, hops = 2, entryK = 4)
  private val GsK = 10

  /** Graph-ANN SERVING ([[graft.similarity.GraphSearch]]): beam search
    * over the cell-local kNN graph with coarse-cell entry points — the
    * face that makes the graph an index (HNSW's idea in declarative,
    * oracle-replayable form: fixed $gsCfg.hops hops, beam
    * ${gsCfg.beamWidth}, ties (cos DESC, n_id)). Gate-only: the benched
    * runtime face is `sim_knn_graph` (graph construction dominates;
    * the walk itself is |queries|×beam broadcast joins).
    */
  def simGraphSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val graph = KnnGraph.build(emb, "vec_id", "embedding", KnnK, ivfCfg)
    GraphSearch.search(emb, "vec_id", "embedding", graph,
        _ < QueryCount, GsK, gsCfg, ivfCfg)
      .orderBy("q_id", "rank")
  }

  val simGraphSearchSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    // one scored-hop CTE pair per hop, unrolled exactly like the plan
    val hopCtes = (1 to gsCfg.hops).map { t =>
      s"""c$t AS (SELECT DISTINCT f.q_id, u.b AS n_id
         |  FROM f${t - 1} f JOIN und u ON u.a = f.n_id
         |  WHERE u.b <> f.q_id),
         |s$t AS (SELECT c.q_id, c.n_id,
         |    ${cosSql("qy.qv", "qy.qn", "a.v", "a.nrm")} AS cos_sim
         |  FROM c$t c JOIN asg a ON a.vid = c.n_id
         |    JOIN qy ON qy.q_id = c.q_id),
         |f$t AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |                       ORDER BY cos_sim DESC, n_id) AS rn
         |  FROM s$t) WHERE rn <= ${gsCfg.beamWidth})""".stripMargin
    }.mkString(",\n")
    val seenUnion = (0 to gsCfg.hops).map(t => s"SELECT * FROM s$t")
      .mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vid AS src_id, b.vid AS n_id,
       |    ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
       |  FROM asg a JOIN asg b ON b.cell = a.cell AND b.vid <> a.vid),
       |g AS (SELECT src_id, n_id FROM (
       |  SELECT src_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p) WHERE rank <= $KnnK),
       |und AS (SELECT DISTINCT a, b FROM (
       |  SELECT src_id AS a, n_id AS b FROM g
       |  UNION ALL SELECT n_id, src_id FROM g)),
       |qy AS (SELECT vid AS q_id, v AS qv, nrm AS qn, cell AS q_cell
       |  FROM asg WHERE vid < $QueryCount),
       |ent AS (SELECT q_id, n_id FROM (
       |  SELECT qy.q_id, a.vid AS n_id,
       |    ROW_NUMBER() OVER (PARTITION BY qy.q_id ORDER BY a.vid) AS rn
       |  FROM qy JOIN asg a ON a.cell = qy.q_cell AND a.vid <> qy.q_id)
       |  WHERE rn <= ${gsCfg.entryK}),
       |s0 AS (SELECT e.q_id, e.n_id,
       |    ${cosSql("qy.qv", "qy.qn", "a.v", "a.nrm")} AS cos_sim
       |  FROM ent e JOIN asg a ON a.vid = e.n_id
       |    JOIN qy ON qy.q_id = e.q_id),
       |f0 AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rn
       |  FROM s0) WHERE rn <= ${gsCfg.beamWidth}),
       |$hopCtes,
       |seen AS (SELECT DISTINCT q_id, n_id, cos_sim FROM ($seenUnion))
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM seen) WHERE rank <= $GsK ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------- graph clusters

  /** Mutual-kNN clustering: keep only RECIPROCATED graph edges (i ∈
    * kNN(j) AND j ∈ kNN(i) — the standard hub-pruning step: a hub that
    * ranks in everyone's top-k but reciprocates almost nobody stops
    * chaining clusters together), then transitive components over the
    * mutual edges ([[graft.dedup.Clusters.connectedComponents]]).
    * The embedding-space analogue of `dedup_clusters`, composing two
    * proven operators; vectors with no mutual edge are absent — the
    * honest "unclustered" answer. Gate-only: runtime face is the
    * benched knn-graph candidate stage + the `dedup_clusters` CC loop.
    */
  def simGraphClusters(spark: SparkSession, dir: String): DataFrame = {
    val mutual = KnnGraph.mutualEdges(
      KnnGraph.build(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", KnnK, ivfCfg))
    graft.dedup.Clusters.connectedComponents(mutual, "a", "b")
      .orderBy("id")
  }

  val simGraphClustersSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    s"""WITH RECURSIVE
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vid AS src_id, b.vid AS n_id,
       |    ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
       |  FROM asg a JOIN asg b ON b.cell = a.cell AND b.vid <> a.vid),
       |base AS (SELECT src_id, n_id FROM (
       |  SELECT src_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p) WHERE rank <= $KnnK),
       |mut AS (SELECT f.src_id AS a, f.n_id AS b FROM base f
       |  JOIN base r ON r.src_id = f.n_id AND r.n_id = f.src_id
       |  WHERE f.src_id < f.n_id),
       |edges AS (SELECT a AS src, b AS dst FROM mut
       |          UNION SELECT b, a FROM mut),
       |r(id, v) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT r.id, e.dst FROM r JOIN edges e ON e.src = r.v)
       |SELECT id, min(v) AS comp FROM r GROUP BY id ORDER BY id""".stripMargin
  }

  /** Shared mutual-kNN-graph CTE prefix (v … mut) — the scaffold the
    * clusters/LPA/triangle oracles all replay before their own tails.
    */
  private def mutualGraphCtes: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vid AS src_id, b.vid AS n_id,
       |    ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
       |  FROM asg a JOIN asg b ON b.cell = a.cell AND b.vid <> a.vid),
       |base AS (SELECT src_id, n_id FROM (
       |  SELECT src_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p) WHERE rank <= $KnnK),
       |mut AS (SELECT f.src_id AS a, f.n_id AS b FROM base f
       |  JOIN base r ON r.src_id = f.n_id AND r.n_id = f.src_id
       |  WHERE f.src_id < f.n_id)""".stripMargin
  }

  private val LpaRounds = 4

  /** Label-propagation communities
    * ([[graft.operators.LabelPropagation]]) over the mutual-kNN
    * graph — the step past `sim_graph_clusters`' components: a bridge
    * edge fuses components but loses the neighbor vote. Gate-only:
    * runtime face is the benched knn-graph candidate stage plus
    * per-round joins of the SMALL label frame. The oracle replays
    * $LpaRounds synchronous rounds as chained CTEs.
    */
  def simGraphLpa(spark: SparkSession, dir: String): DataFrame = {
    val mutual = KnnGraph.mutualEdges(
      KnnGraph.build(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", KnnK, ivfCfg))
    graft.operators.LabelPropagation.communities(mutual, "a", "b",
        LpaRounds)
      .orderBy("id")
  }

  val simGraphLpaSql: String = {
    val rounds = (1 to LpaRounds).map { k =>
      val prev = if (k == 1) "l0" else s"l${k - 1}"
      s"""cnt$k AS (SELECT e.src, l.lab, count(*) AS c
         |  FROM edges e JOIN $prev l ON l.id = e.dst GROUP BY 1, 2),
         |l$k AS (SELECT src AS id, lab FROM (
         |  SELECT src, lab, ROW_NUMBER() OVER (PARTITION BY src
         |    ORDER BY c DESC, lab) AS rn FROM cnt$k) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $mutualGraphCtes,
       |edges AS (SELECT a AS src, b AS dst FROM mut
       |          UNION SELECT b, a FROM mut),
       |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges),
       |$rounds
       |SELECT id, lab AS community FROM l$LpaRounds ORDER BY id"""
      .stripMargin
  }

  /** Newman modularity ([[graft.operators.Modularity]]) of the LPA
    * communities over the mutual-kNN graph — the community-QUALITY
    * audit past `sim_graph_lpa`'s assignment: per-community integer
    * numerators `4·m·intra − deg²`; Σ/(4m²) is the headline Q. The
    * single division stays driver-side so only longs cross the gate.
    * Gate-only: runtime faces are the benched knn-graph candidate
    * stage + the LPA round joins; what the gate adds is the
    * modularity arithmetic, replayed term-for-term.
    */
  def simGraphModularity(spark: SparkSession, dir: String): DataFrame = {
    val mutual = KnnGraph.mutualEdges(
      KnnGraph.build(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", KnnK, ivfCfg))
    val labels = graft.operators.LabelPropagation
      .communities(mutual, "a", "b", LpaRounds)
    graft.operators.Modularity.byCommunity(mutual, "a", "b",
        labels, "id", "community")
      .orderBy("community")
  }

  val simGraphModularitySql: String = {
    val rounds = (1 to LpaRounds).map { k =>
      val prev = if (k == 1) "l0" else s"l${k - 1}"
      s"""cnt$k AS (SELECT e.src, l.lab, count(*) AS c
         |  FROM edges e JOIN $prev l ON l.id = e.dst GROUP BY 1, 2),
         |l$k AS (SELECT src AS id, lab FROM (
         |  SELECT src, lab, ROW_NUMBER() OVER (PARTITION BY src
         |    ORDER BY c DESC, lab) AS rn FROM cnt$k) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $mutualGraphCtes,
       |edges AS (SELECT a AS src, b AS dst FROM mut
       |          UNION SELECT b, a FROM mut),
       |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges),
       |$rounds,
       |lab AS (SELECT id, lab FROM l$LpaRounds),
       |mm AS (SELECT count(*) AS m FROM mut),
       |deg AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY 1),
       |dc AS (SELECT l.lab AS community, count(*) AS n_nodes,
       |    CAST(sum(d.d) AS BIGINT) AS deg_sum
       |  FROM lab l JOIN deg d ON d.id = l.id GROUP BY 1),
       |ie AS (SELECT la.lab AS community, count(*) AS intra
       |  FROM mut e JOIN lab la ON la.id = e.a
       |  JOIN lab lb ON lb.id = e.b
       |  WHERE la.lab = lb.lab GROUP BY 1)
       |SELECT dc.community, dc.n_nodes,
       |  CAST(COALESCE(ie.intra, 0) AS BIGINT) AS intra_edges,
       |  dc.deg_sum,
       |  4 * mm.m * CAST(COALESCE(ie.intra, 0) AS BIGINT)
       |    - dc.deg_sum * dc.deg_sum AS q_num
       |FROM dc LEFT JOIN ie ON ie.community = dc.community
       |CROSS JOIN mm ORDER BY 1""".stripMargin
  }

  /** Per-node triangle counts ([[graft.operators.Triangles]]) over
    * the mutual-kNN graph — the local-cohesion score separating
    * clique-like embedding neighborhoods from chains. Gate-only:
    * runtime face is the knn candidate stage plus the ordered-wedge
    * joins (Σ deg² on ordered degrees, k-bounded here).
    */
  def simGraphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val mutual = KnnGraph.mutualEdges(
      KnnGraph.build(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", KnnK, ivfCfg))
    graft.operators.Triangles.perNode(mutual, "a", "b")
      .orderBy("id")
  }

  val simGraphTrianglesSql: String =
    s"""WITH $mutualGraphCtes,
       |tri AS (SELECT ab.a, ab.b, bc.b AS c
       |  FROM mut ab
       |  JOIN mut bc ON bc.a = ab.b
       |  JOIN mut ac ON ac.a = ab.a AND ac.b = bc.b),
       |ids AS (SELECT a AS id FROM mut UNION SELECT b FROM mut),
       |cnt AS (SELECT id, count(*) AS n_tri FROM (
       |    SELECT a AS id FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY id)
       |SELECT ids.id, COALESCE(cnt.n_tri, 0) AS n_tri
       |FROM ids LEFT JOIN cnt ON cnt.id = ids.id
       |ORDER BY ids.id""".stripMargin

  /** Resource-Allocation link prediction
    * ([[graft.similarity.LinkPredict]]) over the kNN graph: the
    * top-100 non-adjacent pairs ranked by Σ 1/deg over shared
    * neighbors — near-duplicate suspects one hop past the ANN screen.
    * Integer fixed-point (`1e9 div deg`, summed as longs) keeps the
    * score engine-exact. Gate-only: runtime face is `sim_knn_graph`'s
    * candidate stage plus the `sim_graph_triangles` wedge-join shape
    * (Σ deg², K-bounded). The oracle replays symmetrize → degree →
    * wedge → anti-adjacency → aggregate on the same `base` edge CTE.
    */
  def simLinkpred(spark: SparkSession, dir: String): DataFrame = {
    val edges = KnnGraph.build(Tables.loadSpread(spark, dir, "embeddings"),
      "vec_id", "embedding", KnnK, ivfCfg)
    LinkPredict.resourceAllocation(edges, "src_id", "n_id",
      minCommon = 2, topN = 100)
  }

  val simLinkpredSql: String =
    s"""WITH $mutualGraphCtes,
       |und AS (SELECT src_id AS n, n_id AS nbr FROM base
       |  UNION SELECT n_id, src_id FROM base),
       |deg AS (SELECT nbr AS w, count(*) AS d FROM und GROUP BY nbr),
       |wedge AS (SELECT u1.n AS x, u2.n AS y, 1000000000 // d.d AS term
       |  FROM und u1
       |  JOIN und u2 ON u2.nbr = u1.nbr AND u1.n < u2.n
       |  JOIN deg d ON d.w = u1.nbr),
       |nonadj AS (SELECT x, y, term FROM wedge w
       |  WHERE NOT EXISTS (SELECT 1 FROM und a
       |                    WHERE a.n = w.x AND a.nbr = w.y))
       |SELECT x AS node_a, y AS node_b,
       |  count(*) AS common_n, CAST(sum(term) AS BIGINT) AS ra_q
       |FROM nonadj GROUP BY x, y HAVING count(*) >= 2
       |ORDER BY ra_q DESC, node_a, node_b LIMIT 100""".stripMargin

  // ------------------------------------------------------------ nn-descent

  /** One NN-descent round over the cell-local graph
    * ([[graft.similarity.NnDescent]]): md5 hash-bucket seed pairs (the
    * deterministic random-init analogue) ∪ undirected base edges ∪
    * their two-hop expansion, scored exactly, new top-$KnnK kept. The
    * oracle replays the base graph, both expansions, the seed buckets,
    * and the re-rank — so the gate pins the whole refinement round,
    * including the dedup of the three candidate sources.
    */
  def simNnDescent(spark: SparkSession, dir: String): DataFrame =
    NnDescent.refine(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", KnnK, ivfCfg, NndSeedBuckets)
      .orderBy("src_id", "rank")

  val simNnDescentSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    val sbHash = OracleDialect.hexPrefixToLong(
      "md5(CAST(vid AS VARCHAR))", 12)
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % ${ivfCfg.centroidStride} = 0),
       |asg AS (SELECT vid, v, nrm, cell FROM (
       |  SELECT n.vec_id AS vid, n.v, n.nrm, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} DESC, c.c_id)
       |      AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vid AS src_id, b.vid AS n_id,
       |    ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
       |  FROM asg a JOIN asg b ON b.cell = a.cell AND b.vid <> a.vid),
       |base AS (SELECT src_id, n_id FROM (
       |  SELECT src_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p) WHERE rank <= $KnnK),
       |und AS (SELECT DISTINCT a, b FROM (
       |  SELECT src_id AS a, n_id AS b FROM base
       |  UNION ALL SELECT n_id, src_id FROM base)),
       |twohop AS (SELECT e1.a AS a, e2.b AS b FROM und e1
       |  JOIN und e2 ON e2.a = e1.b WHERE e1.a <> e2.b),
       |sb AS (SELECT vid, (CAST($sbHash AS BIGINT)
       |    & ${NndSeedBuckets - 1}) AS sb FROM asg),
       |seeds AS (SELECT s1.vid AS a, s2.vid AS b FROM sb s1
       |  JOIN sb s2 ON s2.sb = s1.sb AND s2.vid <> s1.vid),
       |cand AS (SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM und UNION ALL SELECT a, b FROM twohop
       |  UNION ALL SELECT a, b FROM seeds)),
       |sc AS (SELECT cand.a AS src_id, cand.b AS n_id,
       |    ${cosSql("x.v", "x.nrm", "y.v", "y.nrm")} AS cos_sim
       |  FROM cand JOIN n x ON x.vec_id = cand.a
       |    JOIN n y ON y.vec_id = cand.b)
       |SELECT src_id, rank, n_id, cos_sim FROM (
       |  SELECT src_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM sc)
       |WHERE rank <= $KnnK ORDER BY src_id, rank""".stripMargin
  }

  // ----------------------------------------------------------- int8 screen

  private val sqCfg = ScalarQuant.Config()

  def simQuant(spark: SparkSession, dir: String): DataFrame =
    ScalarQuant.topK(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, K, sqCfg)
      .orderBy("q_id", "rank")

  /** Every quantized code and distance is an exact small integer, and
    * the exact-cosine re-rank reuses the sim_topk fold — so the whole
    * screen-then-rerank chain hash-matches without tolerance.
    */
  val simQuantSql: String = {
    val lv = f"${sqCfg.levels.toDouble}%.1f"
    s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |mm AS (SELECT g.i AS pos, min(v[g.i]) AS mn, max(v[g.i]) AS mx
       |  FROM v0 CROSS JOIN generate_series(1, $Dim) AS g(i) GROUP BY g.i),
       |b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
       |  FROM mm),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm,
       |    [CASE WHEN b.mx[i] - b.mn[i] = 0 THEN 0.0
       |          ELSE floor((v[i] - b.mn[i]) * $lv / (b.mx[i] - b.mn[i])) END
       |     for i in generate_series(1, len(v))] AS qv
       |  FROM v0 CROSS JOIN b),
       |n2 AS (SELECT vec_id, v, nrm, qv, ${foldDot("qv", "qv")} AS qn2
       |  FROM n),
       |p AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id, q.v AS pv,
       |    q.nrm AS pn, d.v, d.nrm,
       |    CAST(q.qn2 + d.qn2 - 2 * ${foldDot("q.qv", "d.qv")} AS BIGINT)
       |      AS dist_q
       |  FROM n2 q CROSS JOIN n2 d
       |  WHERE q.vec_id < $QueryCount AND d.vec_id <> q.vec_id),
       |s AS (SELECT q_id, n_id, dist_q,
       |    ${foldDot("pv", "v")} / (sqrt(pn) * sqrt(nrm)) AS cos_sim
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY dist_q, n_id) AS srank FROM p)
       |  WHERE srank <= ${sqCfg.screenK})
       |SELECT q_id, rank, n_id, cos_sim, dist_q FROM (
       |  SELECT q_id, n_id, cos_sim, dist_q,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM s)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------- pq

  private val pqCfg = ProductQuant.Config()

  def simPq(spark: SparkSession, dir: String): DataFrame =
    ProductQuant.topK(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", Dim, _ < QueryCount, K, pqCfg)
      .orderBy("q_id", "rank")

  /** The oracle retrains all `m` subspace codebooks (via the shared
    * Lloyd's-chain generator), re-derives every document's codes from
    * the final per-subspace assignments, rebuilds each query's
    * (cid → distance) table, and sums the ADC chain in the same order —
    * then re-ranks by the exact cosine. Hash-match means the entire
    * train→encode→search pipeline is bit-reproducible cross-engine.
    */
  val simPqSql: String = {
    val scale = f"${pqCfg.kmCfg.scale}%.1f"
    val m = pqCfg.m
    val sub = Dim / m
    val fin = pqCfg.iters // final assignment index
    val chains = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = (s + 1) * sub
      s"""n_$s AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q,
         |    ${foldDot(s"q[$lo:$hi]", s"q[$lo:$hi]")} AS qn FROM v),
         |${kmChainCtes(s"_$s", sub, pqCfg.codeK, pqCfg.iters)}""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m)
      .map(s => s"a$s.cid AS c$s").mkString(", ")
    val codeJoins = (1 until m)
      .map(s => s"JOIN a$fin" + s"_$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val pds = (0 until m).map { s =>
      s"""pd_$s AS MATERIALIZED (SELECT n.vec_id AS q_id, c.cid,
         |    n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")} AS d
         |  FROM n_$s n CROSS JOIN c${fin - 1}_$s c
         |  WHERE n.vec_id < $QueryCount)""".stripMargin
    }.mkString(",\n")
    val pdJoins = (1 until m)
      .map(s => s"JOIN pd_$s p$s ON p$s.cid = k.c$s AND p$s.q_id = p0.q_id")
      .mkString("\n  ")
    val distSum = (0 until m).map(s => s"p$s.d").mkString(" + ")
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    [floor(x * $scale) for x in embedding::DOUBLE[]] AS q
       |  FROM embeddings),
       |nf AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings),
       |nn AS MATERIALIZED (SELECT vec_id, fv, ${foldDot("fv", "fv")} AS nrm FROM nf),
       |$chains,
       |codes AS MATERIALIZED (SELECT a0.vec_id, $codeCols
       |  FROM a$fin${"_0"} a0
       |  $codeJoins),
       |$pds,
       |pq AS MATERIALIZED (SELECT p0.q_id, k.vec_id AS n_id, $distSum AS dist_pq
       |  FROM codes k
       |  JOIN pd_0 p0 ON p0.cid = k.c0
       |  $pdJoins
       |  WHERE k.vec_id <> p0.q_id),
       |scr AS MATERIALIZED (SELECT q_id, n_id, dist_pq FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY dist_pq, n_id) AS srank FROM pq)
       |  WHERE srank <= ${pqCfg.screenK}),
       |wc AS MATERIALIZED (SELECT s.q_id, s.n_id, s.dist_pq,
       |    ${foldDot("qf.fv", "df.fv")} / (sqrt(qf.nrm) * sqrt(df.nrm))
       |      AS cos_sim
       |  FROM scr s JOIN nn qf ON qf.vec_id = s.q_id
       |  JOIN nn df ON df.vec_id = s.n_id)
       |SELECT q_id, rank, n_id, cos_sim, dist_pq FROM (
       |  SELECT q_id, n_id, cos_sim, dist_pq,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM wc)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- ivfadc

  private val ivfPqCfg = IvfPq.Config()

  def simIvfPq(spark: SparkSession, dir: String): DataFrame =
    IvfPq.topK(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", Dim, _ < QueryCount, K, ivfPqCfg)
      .orderBy("q_id", "rank")

  /** The oracle replays the WHOLE composed pipeline: the coarse
    * Lloyd's chain, every vector's cell, each query's probed cells,
    * all `m` PQ subspace chains (over global vectors or floored
    * residuals per the config), document codes, per-query (residual:
    * per-(query, probed-cell)) ADC tables, the cell-restricted ADC
    * screen, and the exact-cosine re-rank — hash-match proves the full
    * IVFADC layout bit-reproducible cross-engine.
    */
  private def ivfPqOracleSql(cfg: IvfPq.Config): String = {
    val pq = cfg.pq
    val scale = f"${pq.kmCfg.scale}%.1f"
    val m = pq.m
    val sub = Dim / m
    val fin = pq.iters
    val cFin = cfg.coarseIters
    // residual variant: PQ chains read floored residuals (rdoc), and
    // each query's ADC table keys on the PROBED cell (rq) instead of
    // one table per query
    val srcCte = if (cfg.residual) "rdoc" else "v"
    val chains = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = (s + 1) * sub
      s"""n_$s AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q,
         |    ${foldDot(s"q[$lo:$hi]", s"q[$lo:$hi]")} AS qn FROM $srcCte),
         |${kmChainCtes(s"_$s", sub, pq.codeK, pq.iters)}""".stripMargin
    }.mkString(",\n")
    val residCtes = if (!cfg.residual) "" else {
      s"""rdoc AS MATERIALIZED (SELECT a.vec_id,
         |    [floor(a.q[i] - c.cv[i]) for i in generate_series(1, $Dim)] AS q
         |  FROM a${cFin}_cc a JOIN c${cFin - 1}_cc c ON c.cid = a.cid),
         |rq AS MATERIALIZED (SELECT pr.q_id, pr.cell,
         |    [floor(n.q[i] - c.cv[i]) for i in generate_series(1, $Dim)] AS q
         |  FROM probes pr JOIN n_cc n ON n.vec_id = pr.q_id
         |  JOIN c${cFin - 1}_cc c ON c.cid = pr.cell),
         |""".stripMargin
    }
    val codeCols = (0 until m)
      .map(s => s"a$s.cid AS c$s").mkString(", ")
    val codeJoins = (1 until m)
      .map(s => s"JOIN a$fin" + s"_$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val pds = (0 until m).map { s =>
      if (cfg.residual) {
        val lo = s * sub + 1
        val hi = (s + 1) * sub
        val qsl = s"r.q[$lo:$hi]"
        s"""pd_$s AS MATERIALIZED (SELECT r.q_id, r.cell, c.cid,
           |    ${foldDot(qsl, qsl)} + c.cn - 2 * ${foldDot(qsl, "c.cv")} AS d
           |  FROM rq r CROSS JOIN c${fin - 1}_$s c)""".stripMargin
      } else
        s"""pd_$s AS MATERIALIZED (SELECT n.vec_id AS q_id, c.cid,
           |    n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")} AS d
           |  FROM n_$s n CROSS JOIN c${fin - 1}_$s c
           |  WHERE n.vec_id < $QueryCount)""".stripMargin
    }.mkString(",\n")
    val cellCond = if (cfg.residual) " AND p0.cell = pb.cell" else ""
    val pdJoins = (1 until m)
      .map { s =>
        val cc = if (cfg.residual) s" AND p$s.cell = pb.cell" else ""
        s"JOIN pd_$s p$s ON p$s.cid = k.c$s AND p$s.q_id = pb.q_id$cc"
      }
      .mkString("\n  ")
    val distSum = (0 until m).map(s => s"p$s.d").mkString(" + ")
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    [floor(x * $scale) for x in embedding::DOUBLE[]] AS q
       |  FROM embeddings),
       |nf AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings),
       |nn AS MATERIALIZED (SELECT vec_id, fv, ${foldDot("fv", "fv")} AS nrm FROM nf),
       |n_cc AS MATERIALIZED (SELECT vec_id, q, ${foldDot("q", "q")} AS qn FROM v),
       |${kmChainCtes("_cc", Dim, cfg.cells, cFin)},
       |probes AS MATERIALIZED (SELECT q_id, cell FROM (
       |  SELECT n.vec_id AS q_id, c.cid AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")}, c.cid)
       |      AS prn
       |  FROM n_cc n CROSS JOIN c${cFin - 1}_cc c
       |  WHERE n.vec_id < $QueryCount) WHERE prn <= ${cfg.nProbe}),
       |$residCtes$chains,
       |codes AS MATERIALIZED (SELECT a0.vec_id, cc.cid AS cell, $codeCols
       |  FROM a$fin${"_0"} a0
       |  JOIN a${cFin}_cc cc ON cc.vec_id = a0.vec_id
       |  $codeJoins),
       |$pds,
       |pq AS MATERIALIZED (SELECT pb.q_id, k.vec_id AS n_id, $distSum AS dist_pq
       |  FROM codes k
       |  JOIN probes pb ON pb.cell = k.cell
       |  JOIN pd_0 p0 ON p0.cid = k.c0 AND p0.q_id = pb.q_id$cellCond
       |  $pdJoins
       |  WHERE k.vec_id <> pb.q_id),
       |scr AS MATERIALIZED (SELECT q_id, n_id, dist_pq FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY dist_pq, n_id) AS srank FROM pq)
       |  WHERE srank <= ${pq.screenK}),
       |wc AS MATERIALIZED (SELECT s.q_id, s.n_id, s.dist_pq,
       |    ${foldDot("qf.fv", "df.fv")} / (sqrt(qf.nrm) * sqrt(df.nrm))
       |      AS cos_sim
       |  FROM scr s JOIN nn qf ON qf.vec_id = s.q_id
       |  JOIN nn df ON df.vec_id = s.n_id)
       |SELECT q_id, rank, n_id, cos_sim, dist_pq FROM (
       |  SELECT q_id, n_id, cos_sim, dist_pq,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM wc)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  val simIvfPqSql: String = ivfPqOracleSql(ivfPqCfg)

  // ------------------------------------------------------ ivfadc residual

  private val ivfPqResCfg = IvfPq.Config(residual = true)

  /** Gate-only (no bench slot — the runtime face is sim_ivfpq's; the
    * two variants share every stage shape and differ only in the
    * vector the PQ codes quantize): the residual-encoding IVFADC.
    */
  def simIvfPqRes(spark: SparkSession, dir: String): DataFrame =
    IvfPq.topK(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", Dim, _ < QueryCount, K, ivfPqResCfg)
      .orderBy("q_id", "rank")

  val simIvfPqResSql: String = ivfPqOracleSql(ivfPqResCfg)

  // -------------------------------------------------------- feed-fed ANN

  /** Seed-epoch membership for the feed-ANN gate. The floor keeps ids
    * 0..63 in the seed so BOTH trainers' "k smallest ids" seeding
    * (cells = 8 coarse, codeK = 16 PQ) reduces to `vec_id < k` over
    * the fit relation — the form the SQL chain seeds with.
    */
  private val FeedSeedCond = "(vec_id < 64 OR vec_id % 3 <> 2)"

  /** The ANN index maintained from a TABLE's change feed — feed
    * consumer #5, closing the embedding-side incremental loop: vectors
    * live in a transactional CowTable; the seed epoch fits the IVFADC
    * model and bootstraps the persisted index OFFLINE
    * ([[IvfPq.writeIndex]] — model FROZEN from that epoch, the
    * production retrain discipline); the day's ingest appends to the
    * table and its change feed streams through
    * [[IvfPq.appendToIndex]] per micro-batch, coding each commit's
    * vectors with the frozen model into their cells' partitions.
    * Queries then serve from the final index ([[IvfPq.topKIndexed]] — probed-cell
    * partition pruning). Because a row's codes depend only on the
    * frozen model and the row, append-then-serve ≡ coding the union up
    * front; the oracle replays the WHOLE pipeline with the fit
    * restricted to the seed epoch and the assignment over everything —
    * so the hash pins the feed's completeness, the stream coding, AND
    * the split-epoch model semantics in one.
    */
  def pipelineFeedAnn(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_cow/" +
      s"${new java.io.File(dir).getName}"
    val raw = s"$root/fa_src"
    val ckpt = s"$root/fa_ckpt"
    Seq(raw, ckpt).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = graft.tables.TxLog.fs(spark, p)
      if (fs.exists(hp)) { fs.delete(hp, true); () }
    }
    // DROP clears this session's catalog; the WAREHOUSE dir outlives
    // the JVM (a prior Verify run's managed table), so reclaim the
    // location too or saveAsTable refuses with LOCATION_ALREADY_EXISTS
    Seq("graft_feedann", "graft_feedann_model").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
    val emb = Tables.loadSpread(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val seedCut = col("vec_id") < 64 || col("vec_id") % 3 =!= 2
    graft.tables.CowTable.create(spark, raw, emb.filter(seedCut),
      Seq("vec_id"))                                       // v1: seed epoch
    val model = IvfPq.writeIndex(
      graft.tables.CowTable.read(spark, raw, Some(1L)),
      "vec_id", "embedding", Dim, "graft_feedann", ivfPqCfg)
    graft.tables.CowTable.append(spark, raw, emb.filter(!seedCut)) // v2
    val feed = graft.streaming.TableChangeFeed
      .readChanges(spark, raw, startingVersion = 2L)
      .select("vec_id", "embedding")
    val q = graft.streaming.MicroBatch.each(feed) { (_, batch) =>
        IvfPq.appendToIndex(batch, "vec_id", "embedding", Dim,
          "graft_feedann", model, ivfPqCfg)
      }
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    IvfPq.topKIndexed(spark, "graft_feedann",
        emb.filter(col("vec_id") < QueryCount), "vec_id", "embedding",
        Dim, K, ivfPqCfg)
      .orderBy("q_id", "rank")
  }

  /** [[ivfPqOracleSql]]'s non-residual chain with the EPOCH SPLIT the
    * feed gate needs: every Lloyd's iteration (coarse and all `m` PQ
    * subspaces) reads only the seed slice, then ONE extra assignment
    * CTE per codebook codes ALL vectors against the frozen final
    * centroids — fit-on-seed, assign-everything, exactly
    * [[IvfPq.writeIndex]] + [[IvfPq.appendToIndex]].
    */
  private def feedAnnOracleSql(cfg: IvfPq.Config): String = {
    require(!cfg.residual, "feed gate replays the global-coding variant")
    val pq = cfg.pq
    val scale = f"${pq.kmCfg.scale}%.1f"
    val m = pq.m
    val sub = Dim / m
    val fin = pq.iters
    val cFin = cfg.coarseIters
    def assignAll(name: String, src: String, cents: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, q, qn, cid, dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cid) AS rn FROM (
         |    SELECT n.vec_id, n.q, n.qn, c.cid,
         |      n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")} AS dist
         |    FROM $src n CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
    val chains = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = (s + 1) * sub
      s"""n_$s AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q,
         |    ${foldDot(s"q[$lo:$hi]", s"q[$lo:$hi]")} AS qn FROM v),
         |nfit_$s AS MATERIALIZED (SELECT * FROM n_$s
         |  WHERE $FeedSeedCond),
         |${kmChainCtes(s"fit_$s", sub, pq.codeK, pq.iters)},
         |${assignAll(s"af_$s", s"n_$s", s"c${fin - 1}fit_$s")}""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m)
      .map(s => s"a$s.cid AS c$s").mkString(", ")
    val codeJoins = (1 until m)
      .map(s => s"JOIN af_$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val pds = (0 until m).map { s =>
      s"""pd_$s AS MATERIALIZED (SELECT n.vec_id AS q_id, c.cid,
         |    n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")} AS d
         |  FROM n_$s n CROSS JOIN c${fin - 1}fit_$s c
         |  WHERE n.vec_id < $QueryCount)""".stripMargin
    }.mkString(",\n")
    val pdJoins = (1 until m)
      .map(s => s"JOIN pd_$s p$s ON p$s.cid = k.c$s AND p$s.q_id = pb.q_id")
      .mkString("\n  ")
    val distSum = (0 until m).map(s => s"p$s.d").mkString(" + ")
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    [floor(x * $scale) for x in embedding::DOUBLE[]] AS q
       |  FROM embeddings),
       |nf AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings),
       |nn AS MATERIALIZED (SELECT vec_id, fv, ${foldDot("fv", "fv")} AS nrm FROM nf),
       |n_cc AS MATERIALIZED (SELECT vec_id, q, ${foldDot("q", "q")} AS qn FROM v),
       |nfit_cc AS MATERIALIZED (SELECT * FROM n_cc WHERE $FeedSeedCond),
       |${kmChainCtes("fit_cc", Dim, cfg.cells, cFin)},
       |${assignAll("af_cc", "n_cc", s"c${cFin - 1}fit_cc")},
       |probes AS MATERIALIZED (SELECT q_id, cell FROM (
       |  SELECT n.vec_id AS q_id, c.cid AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")}, c.cid)
       |      AS prn
       |  FROM n_cc n CROSS JOIN c${cFin - 1}fit_cc c
       |  WHERE n.vec_id < $QueryCount) WHERE prn <= ${cfg.nProbe}),
       |$chains,
       |codes AS MATERIALIZED (SELECT a0.vec_id, cc.cid AS cell, $codeCols
       |  FROM af_0 a0
       |  JOIN af_cc cc ON cc.vec_id = a0.vec_id
       |  $codeJoins),
       |$pds,
       |pq AS MATERIALIZED (SELECT pb.q_id, k.vec_id AS n_id, $distSum AS dist_pq
       |  FROM codes k
       |  JOIN probes pb ON pb.cell = k.cell
       |  JOIN pd_0 p0 ON p0.cid = k.c0 AND p0.q_id = pb.q_id
       |  $pdJoins
       |  WHERE k.vec_id <> pb.q_id),
       |scr AS MATERIALIZED (SELECT q_id, n_id, dist_pq FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY dist_pq, n_id) AS srank FROM pq)
       |  WHERE srank <= ${pq.screenK}),
       |wc AS MATERIALIZED (SELECT s.q_id, s.n_id, s.dist_pq,
       |    ${foldDot("qf.fv", "df.fv")} / (sqrt(qf.nrm) * sqrt(df.nrm))
       |      AS cos_sim
       |  FROM scr s JOIN nn qf ON qf.vec_id = s.q_id
       |  JOIN nn df ON df.vec_id = s.n_id)
       |SELECT q_id, rank, n_id, cos_sim, dist_pq FROM (
       |  SELECT q_id, n_id, cos_sim, dist_pq,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM wc)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  val pipelineFeedAnnSql: String = feedAnnOracleSql(ivfPqCfg)

  /** The same feed-fed ANN loop over the TRANSACTIONAL table-backed
    * index ([[graft.similarity.IvfPqTable]]): index appends are
    * Txn-stamped per micro-batch (exactly-once — the catalog form's
    * at-least-once gap, closed), serving reads only the probed cells'
    * files via the manifest. Append-then-serve ≡ code-the-union holds
    * identically, so the oracle is [[pipelineFeedAnnSql]] VERBATIM —
    * the hash pins that the transactional machinery is
    * contents-invisible for clean runs.
    */
  def pipelineFeedAnnTx(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_cow/" +
      s"${new java.io.File(dir).getName}"
    val raw = s"$root/fat_src"
    val idx = s"$root/fat_idx"
    val ckpt = s"$root/fat_ckpt"
    Seq(raw, idx, ckpt).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = graft.tables.TxLog.fs(spark, p)
      if (fs.exists(hp)) { fs.delete(hp, true); () }
    }
    val emb = Tables.loadSpread(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val seedCut = col("vec_id") < 64 || col("vec_id") % 3 =!= 2
    graft.tables.CowTable.create(spark, raw, emb.filter(seedCut),
      Seq("vec_id"))
    val model = IvfPqTable.create(spark, idx,
      graft.tables.CowTable.read(spark, raw, Some(1L)),
      "vec_id", "embedding", Dim, ivfPqCfg)
    graft.tables.CowTable.append(spark, raw, emb.filter(!seedCut))
    val feed = graft.streaming.TableChangeFeed
      .readChanges(spark, raw, startingVersion = 2L)
      .select("vec_id", "embedding")
    val q = graft.streaming.MicroBatch.each(feed) { (batchId, batch) =>
        IvfPqTable.append(batch.sparkSession, idx, batch, "vec_id",
          "embedding", Dim, model, ivfPqCfg,
          txn = Some(graft.tables.TxLog.Txn("gate-ann-tx", batchId)))
      }
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    IvfPqTable.topK(spark, idx,
        emb.filter(col("vec_id") < QueryCount), "vec_id", "embedding",
        Dim, K, ivfPqCfg)
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------- fused

  private val RrfK0 = 60

  /** Gate-only (no bench slot — both constituent searches own slots
    * and the fusion itself joins two queries × k broadcast-size
    * frames): hybrid-retrieval rank fusion of the hyperplane-LSH and
    * IVF rankings via RRF.
    */
  def simFused(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    RankFusion.rrf(
        HyperplaneLSH.topKInBucket(emb, "vec_id", "embedding",
          _ < QueryCount, K, lshCfg),
        IVFIndex.topK(emb, "vec_id", "embedding", _ < QueryCount, K, ivfCfg),
        K, RrfK0)
      .orderBy("q_id", "rank")
  }

  /** The oracle rebuilds BOTH input rankings (the sim_lsh_bucket and
    * sim_ivf chains, each as a CTE-scoped subquery) and fuses with the
    * identical fixed-operand-order expression.
    */
  val simFusedSql: String =
    s"""WITH la AS (SELECT q_id, rank, n_id FROM ($simLshBucketSql)),
       |lb AS (SELECT q_id, rank, n_id FROM ($simIvfSql)),
       |j AS (SELECT COALESCE(la.q_id, lb.q_id) AS q_id,
       |    COALESCE(la.n_id, lb.n_id) AS n_id,
       |    COALESCE(1.0 / ($RrfK0 + la.rank), 0.0) +
       |      COALESCE(1.0 / ($RrfK0 + lb.rank), 0.0) AS score
       |  FROM la FULL JOIN lb
       |    ON lb.q_id = la.q_id AND lb.n_id = la.n_id)
       |SELECT q_id, rank, n_id, score FROM (
       |  SELECT q_id, n_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, n_id) AS rank FROM j)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- kmeans

  private val kmCfg = KMeans.Config()

  def embedKmeans(spark: SparkSession, dir: String): DataFrame =
    KMeans.fit(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", kmCfg)
      .orderBy("vec_id")

  /** Gate-only (no bench slot — runtime is embed_kmeans's): the SERVING
    * path. Labeling with the self-trained frozen codebook must
    * reproduce `fit`'s final assignment exactly, so this query shares
    * the embed_kmeans oracle verbatim and the driver gate re-proves
    * label ≡ fit every round.
    */
  def embedKmeansLabel(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    KMeans.label(emb, "vec_id", "embedding",
        KMeans.centroids(emb, "vec_id", "embedding", kmCfg), kmCfg)
      .orderBy("vec_id")
  }

  /** The oracle unrolls all Lloyd's iterations as chained CTEs (the
    * graph_pagerank pattern): seeds → assign → recompute → … → final
    * assignment. Every number along the chain is either an exact
    * integer-valued double (quantized components, their sums) or a
    * deterministic IEEE expression mirrored operand-for-operand
    * (`qn + cn − 2·dot`, one division per mean), so the final
    * (vec_id, cluster, dist) rows hash-match bit-for-bit.
    */
  /** Lloyd's-chain CTE generator (shared by embed_kmeans and sim_pq's
    * per-subspace codebooks): given a CTE `n$sfx` with
    * (vec_id, q: DOUBLE[], qn), emits seeds `c0$sfx`, assignments
    * `a{i}$sfx` and refinements `c{i}$sfx`; the final assignment is
    * `a{iters}$sfx`, the final centroid set `c{iters-1}$sfx`.
    */
  private def kmChainCtes(sfx: String, dim: Int, k: Int, iters: Int): String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, q, qn, cid, dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cid) AS rn FROM (
         |    SELECT n.vec_id, n.q, n.qn, c.cid,
         |      n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")} AS dist
         |    FROM n$sfx n CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
    def centCte(name: String, asg: String) =
      s"""${name}m AS MATERIALIZED (
         |  SELECT cid, g.i AS pos, sum(q[g.i]) / count(*) AS m
         |  FROM $asg CROSS JOIN generate_series(1, $dim) AS g(i)
         |  GROUP BY cid, g.i),
         |$name AS MATERIALIZED (
         |  SELECT cid, cv, ${foldDot("cv", "cv")} AS cn FROM (
         |    SELECT cid, list(m ORDER BY pos) AS cv
         |    FROM ${name}m GROUP BY cid))""".stripMargin
    val rounds = (2 to iters).map { i =>
      centCte(s"c${i - 1}$sfx", s"a${i - 1}$sfx") + ",\n" +
        assignCte(s"a$i$sfx", s"c${i - 1}$sfx")
    }.mkString(",\n")
    val seeds =
      s"""c0$sfx AS MATERIALIZED (SELECT vec_id AS cid, q AS cv, ${foldDot("q", "q")} AS cn
         |  FROM n$sfx WHERE vec_id < $k)""".stripMargin
    (Seq(seeds, assignCte(s"a1$sfx", s"c0$sfx")) ++
      (if (iters >= 2) Seq(rounds) else Nil)).mkString(",\n")
  }

  val embedKmeansSql: String = {
    val scale = f"${kmCfg.scale}%.1f"
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    [floor(x * $scale) for x in embedding::DOUBLE[]] AS q
       |  FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, q, ${foldDot("q", "q")} AS qn FROM v),
       |${kmChainCtes("", Dim, kmCfg.k, kmCfg.iters)}
       |SELECT vec_id, cid AS cluster, dist FROM a${kmCfg.iters}
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------- mislabel

  /** Label-noise audit ([[graft.similarity.MislabelAudit.audit]]):
    * one fixed-point centroid per LABEL, every vector assigned to its
    * nearest label centroid, geometry-vs-annotation disagreements
    * flagged. Gate-only: the fit is `embed_kmeans`' (label, pos)
    * aggregate face, the assignment its NearestCentroid projection;
    * the own-label distance adds one broadcast |labels|-row join.
    */
  def embedMislabel(spark: SparkSession, dir: String): DataFrame =
    MislabelAudit.audit(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", "label", kmCfg)
      .orderBy("vec_id")

  val embedMislabelSql: String = {
    val scale = f"${kmCfg.scale}%.1f"
    s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
       |    [floor(x * $scale) for x in embedding::DOUBLE[]] AS q
       |  FROM embeddings),
       |n AS (SELECT vec_id, lbl, q, ${foldDot("q", "q")} AS qn FROM v),
       |cm AS (SELECT lbl, g.i AS pos, sum(q[g.i]) / count(*) AS m
       |  FROM n CROSS JOIN generate_series(1, $Dim) AS g(i)
       |  GROUP BY lbl, g.i),
       |c AS (SELECT lbl AS clbl, cv, ${foldDot("cv", "cv")} AS cn FROM (
       |  SELECT lbl, list(m ORDER BY pos) AS cv FROM cm GROUP BY lbl)),
       |d AS (SELECT n.vec_id, n.lbl, n.qn, c.clbl, c.cn,
       |    n.qn + c.cn - 2 * ${foldDot("n.q", "c.cv")} AS dist
       |  FROM n CROSS JOIN c),
       |best AS (SELECT vec_id, lbl, clbl, dist FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist, clbl) AS rn FROM d) WHERE rn = 1),
       |own AS (SELECT vec_id, dist AS d_own FROM d WHERE clbl = lbl)
       |SELECT b.vec_id, b.lbl AS label, b.clbl AS pred, b.dist AS d_pred,
       |  o.d_own, (b.clbl <> b.lbl) AS mislabeled
       |FROM best b JOIN own o ON o.vec_id = b.vec_id
       |ORDER BY b.vec_id""".stripMargin
  }

  // --------------------------------------------------------------- recall

  /** recall@k of the LSH index against exact brute force, per query —
    * the measurement that prices an ANN index's misses, computed as a
    * distributed join (no per-query driver loops). The oracle rebuilds
    * BOTH pipelines in SQL and joins them independently.
    */
  def simRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    Recall.atK(
      BruteForceKNN.topK(emb, "vec_id", "embedding", _ < QueryCount, K),
      HyperplaneLSH.topKInBucket(emb, "vec_id", "embedding",
        _ < QueryCount, K, lshCfg),
      K)
  }

  val simRecallSql: String =
    s"""WITH $planesCteSql,
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |ep AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM n q CROSS JOIN n d
       |  WHERE q.vec_id < $QueryCount AND d.vec_id <> q.vec_id),
       |e AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, n_id) AS rank FROM ep) WHERE rank <= $K),
       |b AS (SELECT vec_id, v, nrm, $bucketSql AS bucket
       |  FROM n CROSS JOIN planes pl),
       |ap AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${foldDot("q.v", "d.v")} / (sqrt(q.nrm) * sqrt(d.nrm)) AS cos_sim
       |  FROM b q JOIN b d ON d.bucket = q.bucket AND d.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QueryCount),
       |a AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, n_id) AS rank FROM ap) WHERE rank <= $K)
       |SELECT e.q_id AS q, CAST(count(a.n_id) AS DOUBLE) / count(*) AS recall
       |FROM e LEFT JOIN a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |GROUP BY e.q_id ORDER BY q""".stripMargin

  /** Embedding-health audit — the silent-breakage check every vector
    * pipeline needs before indexing: per label, zero vectors (cosine
    * is undefined on them), non-finite components (one NaN poisons
    * every dot product it touches), wrong-dimension rows (a concat
    * or truncation bug), and the quantized-norm envelope (min / max /
    * sum — a collapsed norm range means the encoder saturated). Pure
    * per-row projection (the shared codegen'd `DotProduct` fold) + ONE
    * map-side-combined aggregate; norms floor-quantize at 1e-6 before
    * the integer min/max/sum so the stats are order-independent
    * (summing raw doubles would be partition-order-dependent).
    * Non-finite rows are excluded from the norm stats on BOTH sides
    * (their fold is NaN). Gate-only: the text_stats per-row shape.
    */
  def dqEmbed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val e = emb.select(col("label"),
      Cosine.norm2(col("embedding")).as("n2"),
      exists(col("embedding"), x => isnan(x) ||
        x === lit(Float.PositiveInfinity) ||
        x === lit(Float.NegativeInfinity)).as("bad"),
      size(col("embedding")).as("dim"))
    val nq = when(!col("bad"),
      floor(sqrt(col("n2")) * 1e6d).cast("bigint"))
    e.groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        sum(when(!col("bad") && col("n2") === 0.0d, 1L).otherwise(0L))
          .as("n_zero"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("dim") =!= Dim, 1L).otherwise(0L)).as("n_wrong_dim"),
        min(nq).as("norm_q_min"), max(nq).as("norm_q_max"),
        sum(nq).as("norm_q_sum"))
      .orderBy("label")
  }

  val dqEmbedSql: String =
    s"""WITH v AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (SELECT label, ${foldDot("v", "v")} AS n2,
       |    len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0 AS bad,
       |    len(v) AS dim FROM v),
       |q AS (SELECT label, n2, bad, dim,
       |    CASE WHEN NOT bad THEN CAST(floor(sqrt(n2) * 1e6) AS BIGINT)
       |         ELSE NULL END AS nq
       |  FROM e)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN NOT bad AND n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_zero,
       |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
       |  CAST(sum(CASE WHEN dim != $Dim THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_wrong_dim,
       |  min(nq) AS norm_q_min, max(nq) AS norm_q_max,
       |  CAST(sum(nq) AS BIGINT) AS norm_q_sum
       |FROM q GROUP BY label ORDER BY label""".stripMargin

  private val KcoreK = 3
  private val KcoreRounds = 3

  /** k-core peeling ([[graft.operators.KCore]]) over the mutual-kNN
    * graph — the density filter past `sim_graph_triangles`: strip
    * degree-&lt;$KcoreK fringe nodes for $KcoreRounds synchronous
    * rounds and report each survivor with its residual degree (the
    * dense-neighborhood subset a graph-based curation pass keeps).
    * Gate-only: runtime face is the benched knn-graph candidate stage
    * plus per-round degree-aggregate + semi-joins on the SMALL edge
    * frame — the `sim_graph_lpa` round shape. The oracle replays every
    * peel round as chained CTEs.
    */
  def simGraphKcore(spark: SparkSession, dir: String): DataFrame = {
    val mutual = KnnGraph.mutualEdges(
      KnnGraph.build(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", KnnK, ivfCfg))
    graft.operators.KCore.peel(mutual, "a", "b", KcoreK, KcoreRounds)
      .orderBy("id")
  }

  val simGraphKcoreSql: String = {
    // MATERIALIZED: every round references its predecessor more than
    // once — inlining would duplicate the whole knn-graph subtree
    // exponentially in the round count (DuckDB OOMs at sf0.1)
    val rounds = (1 to KcoreRounds).map { r =>
      s"""k$r AS MATERIALIZED (SELECT src AS id FROM e${r - 1}
         |  GROUP BY src HAVING count(*) >= $KcoreK),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN k$r s ON s.id = e.src
         |  JOIN k$r d ON d.id = e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $mutualGraphCtes,
       |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM mut
       |       UNION SELECT b, a FROM mut),
       |$rounds
       |SELECT src AS id, count(*) AS deg FROM e$KcoreRounds
       |GROUP BY src ORDER BY id""".stripMargin
  }

  private val BfsSeedMod = 50
  private val BfsHopsMax = 4

  /** Multi-source BFS hop distance ([[graft.operators.BfsHops]]) from
    * the deterministic seed set vec_id % $BfsSeedMod = 0 over the
    * mutual-kNN graph — the discrete "distance from curated seeds"
    * tiering signal (`graph_ppr` gives the continuous analogue).
    * Gate-only: runtime face is the benched knn-graph candidate stage
    * plus per-round frontier joins on the SMALL node frame — the
    * `graph_pagerank` round shape. The oracle replays seed init and
    * all $BfsHopsMax frontier expansions as chained CTEs.
    */
  def simGraphBfs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val mutual = KnnGraph.mutualEdges(
      KnnGraph.build(emb, "vec_id", "embedding", KnnK, ivfCfg))
    graft.operators.BfsHops.minHops(mutual, "a", "b",
        emb.filter(col("vec_id") % BfsSeedMod === 0).select("vec_id"),
        BfsHopsMax)
      .orderBy("id")
  }

  val simGraphBfsSql: String = {
    // MATERIALIZED: d/f rounds reference their predecessors multiple
    // times — inlining would duplicate the knn-graph subtree
    // exponentially in the hop count (DuckDB OOMs at sf0.1)
    val rounds = (1 to BfsHopsMax).map { h =>
      s"""f$h AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM edges e
         |  JOIN f${h - 1} f ON f.id = e.src
         |  WHERE e.dst NOT IN (SELECT id FROM d${h - 1})),
         |d$h AS MATERIALIZED (SELECT id, hops FROM d${h - 1}
         |  UNION ALL SELECT id, $h AS hops FROM f$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH $mutualGraphCtes,
       |edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM mut
       |          UNION SELECT b, a FROM mut),
       |f0 AS MATERIALIZED (SELECT DISTINCT vec_id AS id FROM embeddings
       |       WHERE vec_id % $BfsSeedMod = 0),
       |d0 AS MATERIALIZED (SELECT id, 0 AS hops FROM f0),
       |$rounds
       |SELECT id, hops FROM d$BfsHopsMax ORDER BY id""".stripMargin
  }

  /** One-pass Gram/covariance matrix ([[graft.similarity.GramMatrix]])
    * over the embedding corpus — all 2 080 upper-triangle second
    * moments (and first moments, and the exact n²-scaled covariance
    * numerator) in ONE scan with a d²-bounded aggregate state: the
    * PCA/whitening/correlation-audit building block. The oracle
    * replays the fixed-point quantization, the pair melt, and the
    * integer moment sums (the 128-bit covariance numerator crosses
    * the gate as exact digit strings on both engines), so the hash
    * gate pins every one of the 2 080 cells exactly. Benched: a genuinely new plan shape (per-row d²
    * pair explode into a tiny-group aggregate).
    */
  def embedCov(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.GramMatrix
      .upperTriangle(Tables.loadSpread(spark, dir, "embeddings"),
        "embedding")
      .orderBy("i", "j")

  val embedCovSql: String = {
    val scale = GramMatrix.Scale
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |e AS (SELECT vec_id,
       |  unnest([{'pos': i,
       |           'qx': CAST(floor(v[i] * $scale) AS BIGINT)}
       |    for i in generate_series(1, len(v))], recursive := true)
       |  FROM base),
       |p AS (SELECT a.pos - 1 AS i, b.pos - 1 AS j,
       |    a.qx AS qi, b.qx AS qj
       |  FROM e a JOIN e b ON b.vec_id = a.vec_id AND b.pos >= a.pos)
       |SELECT i, j, count(*) AS n,
       |  CAST(sum(qi) AS BIGINT) AS sx_fp,
       |  CAST(sum(qj) AS BIGINT) AS sy_fp,
       |  CAST(sum(qi * qj) AS BIGINT) AS sxy_fp,
       |  CAST(count(*) * sum(qi * qj) - sum(qi) * sum(qj)
       |    AS VARCHAR) AS cov_fp
       |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin
  }

  private val MarginKAvg = 5 // neighborhood size for margin denominators

  /** Margin-based mining ([[graft.similarity.BitextMargin]], the
    * Artetxe–Schwenk ratio margin): each query's top-$K cosines
    * re-scored relative to both endpoints' exact $MarginKAvg-NN
    * neighborhood sums — hubness-corrected pair mining. Gate-only: the
    * neighborhood sums are the `sim_knn_graph` aggregate face and the
    * scoring joins are broadcast-sized. The oracle replays the
    * (cos, id)-ordered neighborhood folds and the pinned
    * two-division margin, so ranks and raw doubles both hash-pin.
    */
  def simMargin(spark: SparkSession, dir: String): DataFrame =
    BitextMargin.score(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, K, MarginKAvg)
      .orderBy("q_id", "margin_rank")

  val simMarginSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |p AS MATERIALIZED (SELECT q.vec_id AS src_id, d.vec_id AS n_id,
       |    ${cosSql("q.v", "q.nrm", "d.v", "d.nrm")} AS cos_sim
       |  FROM n q CROSS JOIN n d WHERE d.vec_id <> q.vec_id),
       |g AS (SELECT src_id, n_id, cos_sim FROM (
       |  SELECT src_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p) WHERE rank <= $MarginKAvg),
       |sums AS MATERIALIZED (SELECT src_id AS id,
       |    list_reduce(list_prepend(0.0,
       |      list(cos_sim ORDER BY cos_sim, n_id)), (x, y) -> x + y)
       |      AS nnsum
       |  FROM g GROUP BY src_id),
       |cand AS (SELECT src_id AS q_id, n_id, cos_sim FROM (
       |  SELECT src_id, n_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |                       ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM p WHERE src_id < $QueryCount) WHERE rank <= $K),
       |m AS (SELECT c.q_id, c.n_id, c.cos_sim,
       |    c.cos_sim / (sq.nnsum / ${2.0 * MarginKAvg}
       |      + sn.nnsum / ${2.0 * MarginKAvg}) AS margin
       |  FROM cand c JOIN sums sq ON sq.id = c.q_id
       |    JOIN sums sn ON sn.id = c.n_id)
       |SELECT q_id, margin_rank, n_id, cos_sim, margin FROM (
       |  SELECT q_id, n_id, cos_sim, margin,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY margin DESC, n_id) AS margin_rank
       |  FROM m)
       |ORDER BY q_id, margin_rank""".stripMargin
  }

  private val PcaComps = 2 // principal components fit + projected

  /** PCA projection ([[graft.similarity.Pca]]): top-$PcaComps
    * principal components by FIXED-40-step power iteration over
    * [[graft.similarity.GramMatrix]]'s exact moments, corpus projected
    * onto them. The eigensolve is deterministic IEEE arithmetic from a
    * constant start — so the oracle replays the ENTIRE solve: moments
    * (exact integers), the pinned covariance-entry formula, all 40
    * mat-vec/normalize steps per component, deflation, centering, and
    * the final map-only projection, CTE-for-CTE. Gate-only: fit is the
    * benched `embed_cov` aggregate + bounded driver math; projection
    * is the `embed_kmeans`/`embed_rproj` literal-array scan shape.
    */
  def embedPca(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val model = Pca.fit(emb, "embedding", PcaComps)
    Pca.project(emb, "vec_id", "embedding", model)
      .orderBy("vec_id", "comp")
  }

  val embedPcaSql: String = {
    val d = Dim
    val T = Pca.Iters
    def sumFold(term: String, idx: String): String =
      s"list_reduce(list_prepend(0.0, [$term for $idx in " +
        s"generate_series(1, $d)]), (x, y) -> x + y)"
    val meanOf = s"CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)"
    val entry =
      s"""CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * 1099511627776.0)
         |    - (CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0))
         |    * (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0))"""
        .stripMargin
    def powerCtes(c: Int): String = {
      val iters = (1 to T).map { t =>
        s"""u${c}_$t AS MATERIALIZED (SELECT
           |  [${sumFold(s"m.m[i][j] * p.v[j]", "j")}
           |   for i in generate_series(1, $d)] AS u
           |  FROM mat$c m, v${c}_${t - 1} p),
           |v${c}_$t AS MATERIALIZED (SELECT
           |  [u.u[i] / sqrt(${sumFold("u.u[k] * u.u[k]", "k")})
           |   for i in generate_series(1, $d)] AS v
           |  FROM u${c}_$t u)""".stripMargin
      }.mkString(",\n")
      val deflate = if (c + 1 < PcaComps)
        s""",
           |w$c AS (SELECT
           |  [${sumFold(s"m.m[i][j] * p.v[j]", "j")}
           |   for i in generate_series(1, $d)] AS w
           |  FROM mat$c m, v${c}_$T p),
           |l$c AS (SELECT ${sumFold("p.v[k] * w.w[k]", "k")} AS lam
           |  FROM v${c}_$T p, w$c w),
           |mat${c + 1} AS MATERIALIZED (SELECT
           |  [[m.m[i][j] - l.lam * p.v[i] * p.v[j]
           |    for j in generate_series(1, $d)]
           |   for i in generate_series(1, $d)] AS m
           |  FROM mat$c m, v${c}_$T p, l$c l)""".stripMargin
      else ""
      s"""v${c}_0 AS (SELECT [1.0 / sqrt($d.0)
         |  for i in generate_series(1, $d)] AS v),
         |$iters$deflate""".stripMargin
    }
    val projections = (0 until PcaComps).map { c =>
      s"""SELECT b.vec_id, $c AS comp,
         |  ${foldDot("b.v", "p.v")} - ${sumFold("mn.mv[k] * p.v[k]", "k")}
         |    AS proj
         |FROM base b, v${c}_$T p, mean mn""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |e AS (SELECT vec_id,
       |  unnest([{'pos': i,
       |           'qx': CAST(floor(v[i] * ${GramMatrix.Scale}) AS BIGINT)}
       |    for i in generate_series(1, len(v))], recursive := true)
       |  FROM base),
       |cells AS MATERIALIZED (SELECT a.pos - 1 AS i, b.pos - 1 AS j,
       |    count(*) AS n,
       |    CAST(sum(a.qx) AS BIGINT) AS sx,
       |    CAST(sum(b.qx) AS BIGINT) AS sy,
       |    CAST(sum(a.qx * b.qx) AS BIGINT) AS sxy
       |  FROM e a JOIN e b ON b.vec_id = a.vec_id AND b.pos >= a.pos
       |  GROUP BY 1, 2),
       |fullm AS (SELECT i, j, $entry AS a FROM cells
       |  UNION ALL
       |  SELECT j, i, $entry AS a FROM cells WHERE i <> j),
       |mat0 AS MATERIALIZED (SELECT list(row ORDER BY i) AS m FROM (
       |  SELECT i, list(a ORDER BY j) AS row FROM fullm GROUP BY i)),
       |mean AS (SELECT list($meanOf ORDER BY i) AS mv FROM cells
       |  WHERE i = j),
       |${(0 until PcaComps).map(powerCtes).mkString(",\n")}
       |SELECT vec_id, comp, proj FROM (
       |$projections)
       |ORDER BY vec_id, comp""".stripMargin
  }

  private val MmrPick = 5 // diversified picks per query

  /** MMR diversified top-k ([[graft.similarity.Mmr]]): each query's
    * $K brute-force candidates greedily re-ranked to $MmrPick picks by
    * `0.5·rel − 0.5·maxsim-to-selected` — the diversity re-rank face
    * over any retriever's pool. Gate-only: candidate generation is the
    * benched `sim_topk` shape and the greedy loop is the `sim_graph_
    * kcore` round shape; per-query work is candK·k pair sims,
    * corpus-independent. The oracle unrolls all $MmrPick greedy rounds
    * CTE-for-CTE (argmax ties (score DESC, n_id); scores are two
    * IEEE-exact ops on the shared fold cosine, so every double
    * hash-pins).
    */
  def simMmr(spark: SparkSession, dir: String): DataFrame =
    Mmr.diversify(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < QueryCount, candK = K, k = MmrPick)
      .orderBy("q_id", "pick")

  val simMmrSql: String = {
    def cosSql(av: String, an: String, bv: String, bn: String): String =
      s"${foldDot(av, bv)} / (sqrt($an) * sqrt($bn))"
    val rounds = (2 to MmrPick).map { r =>
      val seen = (1 until r).map(i => s"SELECT q_id, n_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""selv$r AS (SELECT s.q_id, c.v AS sv, c.nrm AS sn
         |  FROM ($seen) s JOIN cv c ON c.q_id = s.q_id AND c.n_id = s.n_id),
         |ms$r AS (SELECT r.q_id, r.n_id, r.rel,
         |    MAX(${cosSql("r.v", "r.nrm", "s.sv", "s.sn")}) AS maxsim
         |  FROM cv r JOIN selv$r s ON s.q_id = r.q_id
         |  WHERE NOT EXISTS (SELECT 1 FROM ($seen) t
         |    WHERE t.q_id = r.q_id AND t.n_id = r.n_id)
         |  GROUP BY r.q_id, r.n_id, r.rel),
         |sc$r AS (SELECT q_id, n_id, rel,
         |    0.5 * rel - 0.5 * maxsim AS score FROM ms$r),
         |sel$r AS MATERIALIZED (SELECT q_id, n_id, rel, score, $r AS pick
         |  FROM (SELECT q_id, n_id, rel, score,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |                         ORDER BY score DESC, n_id) AS rn
         |    FROM sc$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val all = (1 to MmrPick).map(r => s"SELECT * FROM sel$r")
      .mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${foldDot("v", "v")} AS nrm FROM v),
       |p AS (SELECT q.vec_id AS q_id, d.vec_id AS n_id,
       |    ${cosSql("q.v", "q.nrm", "d.v", "d.nrm")} AS rel
       |  FROM n q CROSS JOIN n d
       |  WHERE q.vec_id < $QueryCount AND d.vec_id <> q.vec_id),
       |cand AS MATERIALIZED (SELECT q_id, n_id, rel FROM (
       |  SELECT q_id, n_id, rel,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY rel DESC, n_id) AS rank
       |  FROM p) WHERE rank <= $K),
       |cv AS MATERIALIZED (SELECT c.q_id, c.n_id, c.rel, d.v, d.nrm
       |  FROM cand c JOIN n d ON d.vec_id = c.n_id),
       |sel1 AS MATERIALIZED (SELECT q_id, n_id, rel, rel AS score, 1 AS pick
       |  FROM (SELECT q_id, n_id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |                         ORDER BY rel DESC, n_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |$rounds
       |SELECT q_id, pick, n_id, rel, score FROM ($all)
       |ORDER BY q_id, pick""".stripMargin
  }

  private val rpCfg = RandomProjection.config(p = 16, dim = 64, seed = "rp")

  /** Johnson–Lindenstrauss random projection
    * ([[graft.similarity.RandomProjection]]): every embedding reduced
    * to 16 md5-derived projections, melted to (vec_id, plane, proj) —
    * the map-only pre-reduction in front of ANN/dedup at 100 TB (the
    * p×d matrix rides the plan; no shuffle, no join). Gate-only: the
    * runtime face is the benched `embed_kmeans` codegen'd-projection
    * scan shape. The oracle replays all 16 left-fold dot products per
    * vector from the same 3-decimal plane literals, so every output
    * DOUBLE is hash-pinned bit-exactly.
    */
  def embedRproj(spark: SparkSession, dir: String): DataFrame =
    RandomProjection.project(Tables.loadSpread(spark, dir, "embeddings"),
        "vec_id", "embedding", rpCfg)
      .orderBy("vec_id", "plane")

  val embedRprojSql: String = {
    val rows = HyperplaneLSH.planes(rpCfg).zipWithIndex
      .map { case (plane, p) =>
        s"($p, ${plane.map(v => f"$v%.3f").mkString("[", ", ", "]")}::DOUBLE[])"
      }.mkString(",\n    ")
    s"""WITH rp(plane, pv) AS (VALUES
       |    $rows),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT v.vec_id, rp.plane, ${foldDot("v.v", "rp.pv")} AS proj
       |FROM v CROSS JOIN rp ORDER BY vec_id, plane""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_embed" -> (dqEmbed(_, _)),
    "embed_rproj" -> (embedRproj(_, _)),
    "sim_mmr" -> (simMmr(_, _)),
    "embed_pca" -> (embedPca(_, _)),
    "sim_margin" -> (simMargin(_, _)),
    "sim_graph_kcore" -> (simGraphKcore(_, _)),
    "sim_graph_bfs" -> (simGraphBfs(_, _)),
    "embed_cov" -> (embedCov(_, _)),
    "sim_topk" -> (simTopk(_, _)),
    "sim_lsh_bucket" -> (simLshBucket(_, _)),
    "sim_lsh_multiprobe" -> (simLshMultiprobe(_, _)),
    "sim_binquant" -> (simBinquant(_, _)),
    "sim_hardmine" -> (simHardmine(_, _)),
    "embed_mislabel" -> (embedMislabel(_, _)),
    "sim_eval" -> (simEval(_, _)),
    "sim_ivf" -> (simIvf(_, _)),
    "sim_knn_graph" -> (simKnnGraph(_, _)),
    "sim_nn_descent" -> (simNnDescent(_, _)),
    "sim_graph_clusters" -> (simGraphClusters(_, _)),
    "sim_graph_lpa" -> (simGraphLpa(_, _)),
    "sim_graph_triangles" -> (simGraphTriangles(_, _)),
    "sim_linkpred" -> (simLinkpred(_, _)),
    "sim_graph_modularity" -> (simGraphModularity(_, _)),
    "embed_drift" -> (embedDrift(_, _)),
    "sim_nnd_recall" -> (simNndRecall(_, _)),
    "sim_ivf_stats" -> (simIvfStats(_, _)),
    "sim_graph_incr" -> (simGraphIncr(_, _)),
    "sim_recall" -> (simRecall(_, _)),
    "sim_quant" -> (simQuant(_, _)),
    "sim_pq" -> (simPq(_, _)),
    "sim_ivfpq" -> (simIvfPq(_, _)),
    "sim_ivfpq_res" -> (simIvfPqRes(_, _)),
    "pipeline_feed_ann" -> (pipelineFeedAnn(_, _)),
    "pipeline_feed_ann_tx" -> (pipelineFeedAnnTx(_, _)),
    "sim_graph_search" -> (simGraphSearch(_, _)),
    "sim_fused" -> (simFused(_, _)),
    "embed_kmeans" -> (embedKmeans(_, _)),
    "embed_kmeans_label" -> (embedKmeansLabel(_, _)))

  val oracleSql: Map[String, String] = Map(
    "dq_embed" -> dqEmbedSql,
    "embed_rproj" -> embedRprojSql,
    "sim_mmr" -> simMmrSql,
    "embed_pca" -> embedPcaSql,
    "sim_margin" -> simMarginSql,
    "sim_graph_kcore" -> simGraphKcoreSql,
    "sim_graph_bfs" -> simGraphBfsSql,
    "embed_cov" -> embedCovSql,
    "sim_topk" -> simTopkSql,
    "sim_lsh_bucket" -> simLshBucketSql,
    "sim_lsh_multiprobe" -> simLshMultiprobeSql,
    "sim_binquant" -> simBinquantSql,
    "sim_hardmine" -> simHardmineSql,
    "embed_mislabel" -> embedMislabelSql,
    "sim_eval" -> simEvalSql,
    "sim_ivf" -> simIvfSql,
    "sim_knn_graph" -> simKnnGraphSql,
    "sim_nn_descent" -> simNnDescentSql,
    "sim_graph_search" -> simGraphSearchSql,
    "sim_graph_clusters" -> simGraphClustersSql,
    "sim_graph_lpa" -> simGraphLpaSql,
    "sim_graph_triangles" -> simGraphTrianglesSql,
    "sim_linkpred" -> simLinkpredSql,
    "sim_graph_modularity" -> simGraphModularitySql,
    "embed_drift" -> embedDriftSql,
    "sim_nnd_recall" -> simNndRecallSql,
    "sim_ivf_stats" -> simIvfStatsSql,
    "sim_graph_incr" -> simGraphIncrSql,
    "sim_recall" -> simRecallSql,
    "sim_quant" -> simQuantSql,
    "sim_pq" -> simPqSql,
    "sim_ivfpq" -> simIvfPqSql,
    "sim_ivfpq_res" -> simIvfPqResSql,
    "pipeline_feed_ann" -> pipelineFeedAnnSql,
    "pipeline_feed_ann_tx" -> pipelineFeedAnnSql,
    "sim_fused" -> simFusedSql,
    "embed_kmeans" -> embedKmeansSql,
    "embed_kmeans_label" -> embedKmeansSql)
}
