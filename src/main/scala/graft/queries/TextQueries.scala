package graft.queries

import graft.operators.HeavyHitters
import graft.text._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, coalesce, col, concat, count,
  explode, floor, lit, log, md5, row_number, size, sum, when}

/** Driver-verifiable text-analysis queries over the `documents` table.
  * All but tfidf are pure per-row projections (zero shuffle) ordered by
  * doc_id; the oracle mirrors every arithmetic step so doubles come out
  * bit-identical (single divisions / fixed-order products only).
  */
object TextQueries {

  private val wordsCte =
    "w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents)"

  /** Per-language score select list over a token array `w` — shared
    * with the curation pipeline oracle.
    */
  private[queries] val langScoreSelect: String =
    LangId.Lexicons.map { case (lang, lex) =>
      val lexList = OracleDialect.stringList(lex)
      s"CAST(len(list_filter(w, x -> list_contains($lexList, x))) AS DOUBLE)" +
        s" / len(w) AS s_$lang"
    }.mkString(",\n    ")

  private[queries] val langBestExpr: String =
    LangId.Lexicons.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")

  private[queries] val langPredCase: String = {
    val cases = LangId.Lexicons.map(_._1)
      .map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'")
      .mkString("\n       ")
    s"CASE $cases\n       ELSE 'und' END"
  }

  /** Quality-score expression over (text, w) — mirrors
    * [[graft.text.TextStats.qualityScore]].
    */
  private[queries] val qualityExpr: String =
    "least(1.0, CAST(len(w) AS DOUBLE) / 50.0)" +
      " * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))"


  // -------------------------------------------------------------- entropy

  /** Character-distribution screen via the native one-pass
    * [[graft.expressions.CharEntropy]] fold — (doc_id, n_cp,
    * distinct_cp, entropy_q). Gate-only: runtime face is the benched
    * shuffle-free per-row feature shape (text_stats). The oracle
    * replays the per-character histogram and the code-point-ordered
    * entropy fold, re-proving the native expression every round.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.expressions.CharEntropy(coalesce(col("text"), lit("")))
    Tables.loadSpread(spark, dir, "documents")
      .withColumn("__e", e)
      .select(col("doc_id"),
        col("__e").getItem(0).cast("bigint").as("n_cp"),
        col("__e").getItem(2).cast("bigint").as("distinct_cp"),
        floor(col("__e").getItem(1) * 1e6d).cast("bigint").as("entropy_q"))
      .orderBy("doc_id")
  }

  val textEntropySql: String =
    """WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
      |pos AS (SELECT doc_id, unnest(generate_series(1, length(s))) AS i, s
      |  FROM t),
      |hc AS (SELECT doc_id, substr(s, i, 1) AS c, count(*) AS cnt
      |  FROM pos GROUP BY doc_id, c),
      |n AS (SELECT doc_id, sum(cnt) AS n FROM hc GROUP BY doc_id),
      |terms AS (SELECT hc.doc_id, hc.c,
      |    -(CAST(hc.cnt AS DOUBLE) / n.n) * ln(CAST(hc.cnt AS DOUBLE) / n.n)
      |      AS term
      |  FROM hc JOIN n ON n.doc_id = hc.doc_id),
      |e AS (SELECT doc_id, count(*) AS distinct_cp,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(term ORDER BY c)), (a, b) -> a + b) AS h
      |  FROM terms GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(length(t.s) AS BIGINT) AS n_cp,
      |  CAST(COALESCE(e.distinct_cp, 0) AS BIGINT) AS distinct_cp,
      |  CAST(floor(COALESCE(e.h, 0.0) * 1e6) AS BIGINT) AS entropy_q
      |FROM t LEFT JOIN e ON e.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- stats

  def textStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.describe(Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textStatsSql: String = {
    val stop = OracleDialect.stringList(TextStats.Stopwords)
    s"""WITH $wordsCte
       |SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(w) AS n_words,
       |  len(list_distinct(w)) AS n_distinct_words,
       |  CAST(len(list_filter(w, x -> list_contains($stop, x))) AS DOUBLE)
       |    / len(w) AS stopword_ratio,
       |  CAST(length(text) - len(w) + 1 AS DOUBLE) / len(w) AS avg_word_len,
       |  $qualityExpr AS quality
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- langid

  def textLangid(spark: SparkSession, dir: String): DataFrame =
    LangId.predict(Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textLangidSql: String = {
    val scoreCols = langScoreSelect
    val langs = LangId.Lexicons.map(_._1)
    val best = langBestExpr
    s"""WITH $wordsCte,
       |scores AS (SELECT doc_id,
       |    $scoreCols
       |  FROM w),
       |ranked AS (SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |    $best AS best FROM scores)
       |SELECT doc_id,
       |  $langPredCase AS lang_pred,
       |  best AS lang_score
       |FROM ranked ORDER BY doc_id""".stripMargin
  }

  /** Non-Latin fixture rows, synthesized IN-QUERY on both engines
    * (the generated documents table is ASCII English, so the
    * script-aware path needs planted multilingual rows to prove
    * anything). Scripts are caseless (CJK/Korean) or already-lowercase
    * (Cyrillic/Greek/Arabic), so no cross-engine case-mapping enters
    * the gate. The last row is majority-Latin with a sub-threshold CJK
    * admixture — it must fall through the script screen to the
    * stopword vote.
    */
  private[queries] val uniFixtures: Seq[(Long, String)] = Seq(
    900001L -> "这是一个中文的测试文档 包含汉字与假名 ひらがな カタカナ",
    900002L -> "한국어 문서 테스트 입니다 한글 텍스트",
    900003L -> "это тестовый документ на русском языке слова",
    900004L -> "αυτο ειναι ενα ελληνικο κειμενο δοκιμης",
    900005L -> "هذا مستند تجريبي باللغة العربية كلمات",
    900006L -> "the quick brown fox 汉字 jumps over the lazy dog and the end")

  def textLangidUni(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(uniFixtures.toDF("doc_id", "text"))
    LangId.predictUnicode(docs, "doc_id", "text").orderBy("doc_id")
  }

  val textLangidUniSql: String = {
    val fixtureRows = uniFixtures.map { case (id, t) =>
      s"SELECT $id AS doc_id, '$t' AS text"
    }.mkString("\n  UNION ALL ")
    // range regexes mirror ScriptCounts' documented blocks exactly
    val ranges = Seq(
      "c_cjk" -> "[\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}]",
      "c_hangul" -> "[\\x{AC00}-\\x{D7A3}]",
      "c_cyr" -> "[\\x{0400}-\\x{04FF}]",
      "c_greek" -> "[\\x{0370}-\\x{03FF}]",
      "c_arab" -> "[\\x{0600}-\\x{06FF}]")
    val rangeCols = ranges.map { case (n, p) =>
      s"CAST(len(regexp_extract_all(text, '$p')) AS DOUBLE) AS $n"
    }.mkString(",\n    ")
    val shareDefs = Seq("sh_ar" -> "c_arab", "sh_cjk" -> "c_cjk",
      "sh_el" -> "c_greek", "sh_ko" -> "c_hangul", "sh_ru" -> "c_cyr")
    val shareCols = shareDefs.map { case (s, c) =>
      s"CASE WHEN letters > 0 THEN $c / letters ELSE 0.0 END AS $s"
    }.mkString(",\n    ")
    val shareNames = shareDefs.map(_._1)
    val scriptCases = shareNames.map { s =>
      s"WHEN bsh >= ${LangId.ScriptThreshold} AND $s = bsh THEN '${s.stripPrefix("sh_")}'"
    }.mkString("\n       ")
    val stopCases = LangId.Lexicons.map(_._1)
      .map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'")
      .mkString("\n       ")
    s"""WITH fix AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL $fixtureRows),
       |sc AS (SELECT doc_id, text,
       |    CAST(len(regexp_extract_all(text, '[\\p{L}]')) AS DOUBLE) AS letters,
       |    $rangeCols
       |  FROM fix),
       |sh AS (SELECT doc_id, text,
       |    $shareCols
       |  FROM sc),
       |r AS (SELECT *, greatest(${shareNames.mkString(", ")}) AS bsh,
       |    string_split(lower(text), ' ') AS w FROM sh),
       |scores AS (SELECT doc_id, bsh, ${shareNames.mkString(", ")},
       |    $langScoreSelect
       |  FROM r),
       |ranked AS (SELECT *, $langBestExpr AS best FROM scores)
       |SELECT doc_id,
       |  CASE $scriptCases
       |       ELSE ($langPredCase) END AS lang_pred,
       |  CASE WHEN bsh >= ${LangId.ScriptThreshold} THEN bsh
       |       ELSE coalesce(best, 0.0) END AS lang_score
       |FROM ranked ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ fertility

  /** Tokenizer-fertility audit ([[graft.text.Fertility.byLanguage]]):
    * bytes-per-token by predicted language, the under-served-language
    * read before adopting a tokenizer. Gate-only: the per-row vote +
    * census is `text_langid`'s + `text_tokens`' benched projections;
    * the rollup is one |languages|-row map-side-combined aggregate.
    */
  def textFertility(spark: SparkSession, dir: String): DataFrame =
    Fertility.byLanguage(
      Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")

  val textFertilitySql: String = {
    val langs = LangId.Lexicons.map(_._1)
    s"""WITH $wordsCte,
       |scores AS (SELECT doc_id, text,
       |    $langScoreSelect
       |  FROM w),
       |ranked AS (SELECT doc_id, text, ${langs.map(l => s"s_$l").mkString(", ")},
       |    $langBestExpr AS best FROM scores),
       |per AS (SELECT
       |    $langPredCase AS lang,
       |    CAST(strlen(text) AS BIGINT) AS bytes,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '${TokenCount.TokenPattern}')) AS BIGINT) AS toks
       |  FROM ranked)
       |SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(sum(bytes) AS BIGINT) AS n_bytes,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CASE WHEN sum(toks) > 0
       |    THEN CAST(sum(bytes) * 1000 AS BIGINT) // CAST(sum(toks) AS BIGINT)
       |    ELSE NULL END AS bpt_milli
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- tokens

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    TokenCount.counts(Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textTokensSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  regexp_extract_all(lower(text), '${TokenCount.TokenPattern}') AS t
       |  FROM documents)
       |SELECT doc_id,
       |  len(t) AS n_tokens,
       |  len(list_distinct(t)) AS n_distinct_tokens,
       |  len(list_filter(t, x -> regexp_full_match(x, '[0-9]+')))
       |    AS n_numeric_tokens
       |FROM t ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- vocabulary

  private val VocabK = 100
  // union corpus holds ~31 ASCII + ~45 fixture tokens — 100 keeps the
  // ENTIRE multilingual vocabulary in the gate, so every fixture token
  // must survive tokenization to hash-match
  private val VocabUniK = 100

  def textVocab(spark: SparkSession, dir: String): DataFrame =
    Vocab.topTokens(Tables.loadSpread(spark, dir, "documents"),
        "doc_id", "text", VocabK)
      .orderBy("rnk")

  val textVocabSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '${TokenCount.TokenPattern}'))
       |      AS token
       |  FROM documents),
       |pd AS (SELECT token, doc_id, count(*) AS n FROM t GROUP BY token, doc_id),
       |tot AS (SELECT token, count(*) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS n_occurrences
       |  FROM pd GROUP BY token),
       |top AS (SELECT * FROM tot
       |  ORDER BY n_occurrences DESC, token LIMIT $VocabK)
       |SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS rnk,
       |  token, n_docs, n_occurrences
       |FROM top ORDER BY rnk""".stripMargin

  /** Zipf-law fit of the ranked vocabulary — the power-law audit a
    * corpus census reads before trusting token statistics (natural
    * text slopes ≈ −1; a flat slope flags synthetic/boilerplate
    * corpora, a cliff flags truncated crawls): exact OLS of
    * ln(frequency) on ln(rank) over the top-$VocabK rows via
    * [[graft.operators.TrendFit]] — the corpus-scale work IS the
    * benched `text_vocab` census, the regression runs on the
    * K-row summary frame. ln outputs cross the gate only after the
    * family's floor quantization (x at 1e-6, y through TrendFit's
    * 2^20 fixed point); the slope leaves as the exact
    * DECIMAL(38,0) rational. −slope_num/slope_den ≈ the Zipf
    * exponent α. Gate-only: `text_vocab` face + the `events_trend`
    * closed form.
    */
  def textZipf(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Vocab.topTokens(Tables.loadSpread(spark, dir, "documents"),
      "doc_id", "text", VocabK)
    graft.operators.TrendFit.fit(vocab, Seq(),
      floor(log(col("rnk").cast("double")) * lit(1e6d)).cast("long"),
      log(col("n_occurrences").cast("double")))
  }

  val textZipfSql: String =
    s"""WITH v AS MATERIALIZED (
       |$textVocabSql
       |),
       |e AS (SELECT
       |    CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(n_occurrences AS DOUBLE))
       |      * ${graft.operators.TrendFit.Scale}.0) AS BIGINT) AS y
       |  FROM v),
       |m AS (SELECT COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(y) AS BIGINT) AS sy_fp,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y AS HUGEINT) * y) AS syy
       |  FROM e)
       |SELECT n, sx, sy_fp,
       |  CAST(CAST(n AS HUGEINT) * sxy
       |    - CAST(sx AS HUGEINT) * sy_fp AS VARCHAR) AS slope_num,
       |  CAST(CAST(n AS HUGEINT) * sxx
       |    - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS slope_den,
       |  CAST(CAST(n AS HUGEINT) * syy
       |    - CAST(sy_fp AS HUGEINT) * sy_fp AS VARCHAR) AS yvar_num
       |FROM m""".stripMargin

  /** Heaps'-law vocabulary-growth curve ([[VocabGrowth]]): cumulative
    * distinct tokens vs cumulative tokens at 20 id-order checkpoints —
    * the dedup/diversity audit beside `text_zipf`'s frequency
    * power-law. Gate-only: runtime faces are the `corpus_order`-class
    * rank exchange and the `text_vocab` token census; what this gate
    * adds is the first-occurrence bucketing + the k-row cumulative
    * frame. The oracle replays rank, buckets, first-seen minima, and
    * all three cumulative sums.
    */
  def textHeaps(spark: SparkSession, dir: String): DataFrame =
    VocabGrowth.curve(Tables.loadSpread(spark, dir, "documents"),
        "doc_id", "text", k = 20)
      .orderBy("checkpoint")

  val textHeapsSql: String =
    s"""WITH d AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '${TokenCount.TokenPattern}') AS t
       |  FROM documents),
       |r AS (SELECT doc_id, t,
       |    row_number() OVER (ORDER BY doc_id) - 1 AS rank,
       |    count(*) OVER () AS n
       |  FROM d),
       |b AS (SELECT doc_id, t, (rank * 20) // n AS bucket FROM r),
       |dt AS (SELECT bucket, count(*) AS docs,
       |    CAST(sum(len(t)) AS BIGINT) AS toks
       |  FROM b GROUP BY bucket),
       |fs0 AS (SELECT unnest(t) AS tok, bucket FROM b),
       |fs AS (SELECT tok, min(bucket) AS fb FROM fs0 GROUP BY tok),
       |nv AS (SELECT fb AS bucket, count(*) AS novel FROM fs GROUP BY fb),
       |c AS (SELECT dt.bucket, dt.docs, dt.toks,
       |    CAST(COALESCE(nv.novel, 0) AS BIGINT) AS novel
       |  FROM dt LEFT JOIN nv ON nv.bucket = dt.bucket)
       |SELECT bucket AS checkpoint,
       |  CAST(sum(docs) OVER (ORDER BY bucket) AS BIGINT) AS docs_cum,
       |  CAST(sum(toks) OVER (ORDER BY bucket) AS BIGINT) AS tokens_cum,
       |  CAST(sum(novel) OVER (ORDER BY bucket) AS BIGINT) AS vocab_cum
       |FROM c ORDER BY checkpoint""".stripMargin

  /** The multilingual vocabulary gate — the SAME operator as
    * [[textVocab]] with [[TokenCount.Unicode]] routed into the
    * production token path, over the corpus plus the CJK / Hangul /
    * Cyrillic / Greek / Arabic fixture docs ([[uniFixtures]]): under
    * the Ascii tokenizer those documents dissolve into separators;
    * here their tokens must survive INTO the ranked vocabulary and
    * hash-match the oracle's `[\p{L}]+` extraction with per-match
    * lowercasing. This is the end-to-end proof that the token path is
    * multilingual-ready, not just the tokenizer expression (SURVEY
    * §2.10 T9). Gate-only: the benched runtime face is `text_vocab`
    * (identical plan shape — explode, two map-side-combined
    * aggregates, TakeOrderedAndProject; only the scanner expression
    * and the 6-row fixture union differ).
    */
  def textVocabUni(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(uniFixtures.toDF("doc_id", "text"))
    // k covers the whole union vocabulary's head far enough that every
    // fixture token (1-2 occurrences) competes on the tie-broken tail
    Vocab.topTokens(docs, "doc_id", "text", VocabUniK,
        mode = TokenCount.Unicode)
      .orderBy("rnk")
  }

  val textVocabUniSql: String = {
    val fixtureRows = uniFixtures.map { case (id, t) =>
      s"SELECT $id AS doc_id, '$t' AS text"
    }.mkString("\n  UNION ALL ")
    // lower() applies PER MATCH: code-point lowering and full-string
    // lowering agree because no fixture carries a cased non-ASCII
    // capital (the context-sensitive mappings TokenRunsUnicode
    // excludes by contract)
    s"""WITH fix AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL $fixtureRows),
       |t AS (SELECT doc_id,
       |    lower(unnest(regexp_extract_all(text,
       |      '${TokenCount.TokenPatternUnicode}'))) AS token
       |  FROM fix),
       |pd AS (SELECT token, doc_id, count(*) AS n FROM t GROUP BY token, doc_id),
       |tot AS (SELECT token, count(*) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS n_occurrences
       |  FROM pd GROUP BY token),
       |top AS (SELECT * FROM tot
       |  ORDER BY n_occurrences DESC, token LIMIT $VocabUniK)
       |SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS rnk,
       |  token, n_docs, n_occurrences
       |FROM top ORDER BY rnk""".stripMargin
  }

  // -------------------------------------------------------- heavy hitters

  private val HhGram = 5    // character n-gram length
  private val HhDenom = 256 // heavy = share > 1/256
  private val HhK = 320     // MG counters; k+1 > denom ⇒ lossless screen

  /** Exact character-5-gram heavy hitters ([[graft.operators.HeavyHitters]]):
    * the Misra-Gries sketch pass screens ~2k distinct grams down to
    * ≤ $HhK candidates in bounded memory (real eviction pressure — the
    * corpus has ~6× more distinct grams than counters), then the exact
    * verify pass recovers true counts. The oracle is the NAIVE full
    * frequency table with the same threshold, so the hash match
    * re-proves the sketch screen lossless every round.
    */
  def textHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val items = docs.select(
      explode(TextFeatures.charShingles(col("text"), HhGram)).as("gram"))
    HeavyHitters.exact(items, "gram", HhDenom, HhK)
      .orderBy(col("cnt").desc, col("gram"))
  }

  private val HhgGram = 4   // grouped variant: per-source 4-grams
  private val HhgDenom = 256
  private val HhgK = 320

  /** Per-source heavy hitters ([[HeavyHitters.exactPerGroup]]) —
    * parameter/shape variant of `text_heavyhitters` (per-group sketch
    * state, (group, item) verify key). Gate-only: no bench slot, the
    * family's runtime is `text_heavyhitters`'s (same policy as the
    * MinHash presets).
    */
  def textHeavyHittersGrouped(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val items = docs.select(col("source"),
      explode(TextFeatures.charShingles(col("text"), HhgGram)).as("gram"))
    HeavyHitters.exactPerGroup(items, "source", "gram", HhgDenom, HhgK)
      .orderBy(col("source"), col("cnt").desc, col("gram"))
  }

  val textHeavyHittersGroupedSql: String =
    s"""WITH g AS (SELECT source,
       |      substr(lower(text), CAST(i AS INT), $HhgGram) AS gram
       |    FROM documents,
       |      LATERAL unnest(range(1, length(lower(text)) - ${HhgGram - 2})) AS s(i)
       |    WHERE length(lower(text)) >= $HhgGram),
       |tot AS (SELECT source, count(*) AS n_total FROM g GROUP BY source),
       |c AS (SELECT source, gram, count(*) AS cnt FROM g GROUP BY source, gram)
       |SELECT c.source, gram, cnt, CAST(cnt AS DOUBLE) / n_total AS share
       |FROM c JOIN tot ON c.source = tot.source
       |WHERE cnt * $HhgDenom > n_total
       |ORDER BY c.source, cnt DESC, gram""".stripMargin

  val textHeavyHittersSql: String =
    s"""WITH g AS (SELECT substr(lower(text), CAST(i AS INT), $HhGram) AS gram
       |    FROM documents,
       |      LATERAL unnest(range(1, length(lower(text)) - ${HhGram - 2})) AS s(i)
       |    WHERE length(lower(text)) >= $HhGram),
       |tot AS (SELECT count(*) AS n_total FROM g),
       |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram)
       |SELECT gram, cnt, CAST(cnt AS DOUBLE) / n_total AS share
       |FROM c, tot WHERE cnt * $HhDenom > n_total
       |ORDER BY cnt DESC, gram""".stripMargin

  // --------------------------------------------------------- collocations

  private val PmiK = 50
  private val PmiMinPairs = 5L

  /** Top-k adjacent-word pairs by PMI ratio ([[graft.text.Collocations]]):
    * exact-integer numerator/denominator, one int→double conversion
    * each, one division — bit-identical doubles, so even the ranking
    * cut is engine-portable. The oracle builds pairs through an
    * index-lateral unnest, an independent formulation of the transform/
    * sequence generator.
    */
  def textPmi(spark: SparkSession, dir: String): DataFrame =
    Collocations.topPmi(Tables.loadSpread(spark, dir, "documents"),
      "text", PmiK, PmiMinPairs)

  val textPmiSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |p AS (SELECT w.w[t.i] AS tok_a, w.w[t.i + 1] AS tok_b
       |      FROM w CROSS JOIN UNNEST(generate_series(1, len(w.w) - 1)) AS t(i)),
       |u AS (SELECT unnest(w) AS tok FROM w),
       |pc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM p GROUP BY 1, 2
       |       HAVING count(*) >= $PmiMinPairs),
       |uc AS (SELECT tok, count(*) AS c_tok FROM u GROUP BY 1),
       |t AS (SELECT (SELECT count(*) FROM p) AS n_pairs,
       |             (SELECT count(*) FROM u) AS n_toks)
       |SELECT pc.tok_a, pc.tok_b, pc.c_ab, a.c_tok AS c_a, b.c_tok AS c_b,
       |  CAST(CAST(pc.c_ab AS HUGEINT) * t.n_toks * t.n_toks AS DOUBLE) /
       |  CAST(CAST(t.n_pairs AS HUGEINT) * a.c_tok * b.c_tok AS DOUBLE)
       |    AS pmi_ratio
       |FROM pc JOIN uc a ON a.tok = pc.tok_a JOIN uc b ON b.tok = pc.tok_b
       |CROSS JOIN t
       |ORDER BY pmi_ratio DESC, tok_a, tok_b LIMIT $PmiK""".stripMargin

  // --------------------------------------------------------------- encode

  /** Tokenizer-apply over the same top-k vocabulary: every document as
    * a space-joined id sequence (rank in the vocab table, 0 = OOV).
    * Spark side is a zero-shuffle per-row map lookup; the oracle
    * reassembles ids positionally through an explicit join + ordered
    * string_agg — an independent formulation, so the hash checks the
    * lookup semantics, not a shared plan.
    */
  def textEncode(spark: SparkSession, dir: String): DataFrame =
    Vocab.encodeFast(Tables.loadSpread(spark, dir, "documents"),
        "doc_id", "text", VocabK)
      .orderBy("doc_id")

  val textEncodeSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '${TokenCount.TokenPattern}') AS t
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(t) AS token FROM t),
       |pd AS (SELECT token, doc_id, count(*) AS n FROM p GROUP BY token, doc_id),
       |tot AS (SELECT token, count(*) AS n_docs, sum(n) AS n_occurrences
       |  FROM pd GROUP BY token),
       |v AS (SELECT row_number() OVER (ORDER BY n_occurrences DESC, token)
       |    AS rnk, token
       |  FROM (SELECT * FROM tot ORDER BY n_occurrences DESC, token
       |        LIMIT $VocabK)),
       |tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
       |  FROM t),
       |tok2 AS (SELECT doc_id, pos, t[pos] AS token FROM tok),
       |j AS (SELECT tok2.doc_id, tok2.pos,
       |    CAST(COALESCE(v.rnk, 0) AS BIGINT) AS id
       |  FROM tok2 LEFT JOIN v ON v.token = tok2.token),
       |agg AS (SELECT doc_id,
       |    string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS token_ids,
       |    count(*) AS n_tokens,
       |    sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS n_oov
       |  FROM j GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.token_ids, '') AS token_ids,
       |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(a.n_oov, 0) AS BIGINT) AS n_oov
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- lm score

  /** Unigram LM scoring against the same top-k vocabulary. The oracle
    * rebuilds the model and replays BOTH token-order folds with
    * list_reduce — rarity_mean is pure IEEE arithmetic (hash-exact);
    * nll_q is floor-quantized because ln is a libm call where engines
    * may differ in the final ulp.
    */
  def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    // the native-expression path: the oracle hash thereby re-verifies
    // the codegen'd UnigramScore against DuckDB every round (it is
    // spec'd bit-identical to the declarative scoreWith fold)
    val docs = Tables.loadSpread(spark, dir, "documents")
    LmScore.fitScoreFast(docs, "doc_id", "text", VocabK)
      .orderBy("doc_id")
  }

  /** The lm-score CTE chain (model fit + per-doc token folds) ending in
    * `agg(doc_id, n, n_oov, rarsum, nllsum)` — shared by the lm-score
    * and perplexity-bucket oracles.
    */
  private val lmScoreCtes: String =
    s"""t AS (SELECT doc_id,
       |    regexp_extract_all(lower(coalesce(text, '')),
       |      '${TokenCount.TokenPattern}') AS t
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(t) AS token FROM t),
       |tot AS (SELECT count(*) AS total FROM p),
       |pd AS (SELECT token, doc_id, count(*) AS n FROM p GROUP BY token, doc_id),
       |tv AS (SELECT token, count(*) AS n_docs, sum(n) AS n_occurrences
       |  FROM pd GROUP BY token),
       |v AS (SELECT token, CAST(n_occurrences AS BIGINT) AS cnt FROM
       |  (SELECT * FROM tv ORDER BY n_occurrences DESC, token LIMIT $VocabK)),
       |d AS (SELECT CAST(total + $VocabK + 1 AS DOUBLE) AS denom FROM tot),
       |tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
       |  FROM t),
       |tok2 AS (SELECT doc_id, pos, t[pos] AS token FROM tok),
       |j AS (SELECT tok2.doc_id, tok2.pos,
       |    CAST(COALESCE(v.cnt, 0) + 1 AS DOUBLE) AS c,
       |    CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM tok2 LEFT JOIN v ON v.token = tok2.token),
       |terms AS (SELECT j.doc_id, j.pos, j.oov,
       |    d.denom / j.c AS rar, -ln(j.c / d.denom) AS nll
       |  FROM j CROSS JOIN d),
       |agg AS (SELECT doc_id, count(*) AS n,
       |    CAST(sum(oov) AS BIGINT) AS n_oov,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(rar ORDER BY pos)), (a, b) -> a + b) AS rarsum,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(nll ORDER BY pos)), (a, b) -> a + b) AS nllsum
       |  FROM terms GROUP BY doc_id)""".stripMargin

  val textLmScoreSql: String =
    s"""WITH $lmScoreCtes
       |SELECT doc.doc_id,
       |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
       |  COALESCE(a.n_oov, 0) AS n_oov,
       |  COALESCE(a.rarsum / a.n, 0.0) AS rarity_mean,
       |  CAST(COALESCE(floor(a.nllsum / a.n * 1e6), 0) AS BIGINT) AS nll_q
       |FROM documents doc LEFT JOIN agg a ON a.doc_id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  // ---------------------------------------------- CCNet perplexity buckets

  private val NPplBuckets = 3

  /** CCNet head/middle/tail: per-LANGUAGE terciles of the unigram-LM
    * mean NLL (`nll_q`, the quantized score `text_lm_score` gates), so
    * each document competes only against its language peers — absolute
    * thresholds would brand every low-resource language "tail" because
    * its LM fits worse. The grouped rank is
    * [[graft.operators.GroupedNtile]]'s one-range-exchange two-level
    * scan, NOT `ntile() OVER (PARTITION BY lang)` — window parallelism
    * by group would put ~90% of a real corpus through one reducer. The
    * oracle replays the window formulation; the hash match proves the
    * distributed rank ≡ the per-group sort.
    */
  def textPplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val scored = LmScore.fitScoreFast(docs, "doc_id", "text", VocabK,
        keep = Seq("lang"))
      .select("doc_id", "lang", "nll_q")
    graft.operators.GroupedNtile
      .bucketPlan(scored, "lang", Seq(col("nll_q")), "doc_id", NPplBuckets)
      .orderBy("doc_id")
  }

  val textPplBucketsSql: String =
    s"""WITH $lmScoreCtes,
       |sc AS (SELECT d.doc_id, d.lang,
       |    CAST(COALESCE(floor(a.nllsum / a.n * 1e6), 0) AS BIGINT) AS nll_q
       |  FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id),
       |r AS (SELECT doc_id, lang, nll_q,
       |    row_number() OVER (PARTITION BY lang ORDER BY nll_q, doc_id) - 1
       |      AS lr,
       |    count(*) OVER (PARTITION BY lang) AS n FROM sc)
       |SELECT lang, doc_id, nll_q,
       |  CAST((lr * $NPplBuckets) // n AS BIGINT) AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  /** The production (offline/online) face of `text_ppl_buckets`:
    * freeze per-language cut points from the reference corpus
    * ([[graft.operators.GroupedNtile.boundaries]]), then label by pure
    * projection against the frozen cuts — the stream-safe shape (new
    * documents route to head/middle/tail with no rank at all). Labeling
    * the reference corpus itself must reproduce the rank-based buckets
    * EXACTLY, so this gate reuses `text_ppl_buckets`' rank-formulated
    * oracle verbatim — the hash match IS the boundaries ≡ ranks proof.
    * Gate-only: runtime face is text_ppl_buckets.
    */
  def textPplApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    // persisted: the scored frame feeds boundary derivation AND the
    // apply side; without the cache the LM fit + scoring run twice
    val scored = LmScore.fitScoreFast(docs, "doc_id", "text", VocabK,
        keep = Seq("lang"))
      .select("doc_id", "lang", "nll_q")
      .persist()
    val cuts = graft.operators.GroupedNtile
      .boundaries(scored, "lang", col("nll_q"), "doc_id", NPplBuckets)
    graft.operators.GroupedNtile
      .applyBoundaries(scored, cuts, "lang", col("nll_q"), "doc_id")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- oov coverage

  /** Per-source vocabulary coverage at the gated vocab size
    * ([[graft.text.Vocab.coverageBy]]): the vocab-sizing audit — a
    * feed with outlier OOV is code, another language, or gibberish.
    * Gate-only: one tokenize + one (source) aggregate, the benched
    * text_vocab / text_stats shapes.
    */
  def textOov(spark: SparkSession, dir: String): DataFrame =
    Vocab.coverageBy(Tables.loadSpread(spark, dir, "documents"),
        "source", "text", "doc_id", VocabK)
      .orderBy("source")

  val textOovSql: String =
    s"""WITH p AS (SELECT doc_id, source,
       |    unnest(regexp_extract_all(lower(coalesce(text, '')),
       |      '${TokenCount.TokenPattern}')) AS token
       |  FROM documents),
       |tv AS (SELECT token, count(*) AS yw FROM p GROUP BY token),
       |v AS (SELECT token FROM
       |  (SELECT * FROM tv ORDER BY yw DESC, token LIMIT $VocabK)),
       |agg AS (SELECT source, count(*) AS n_tokens,
       |    sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
       |  FROM p LEFT JOIN v ON v.token = p.token GROUP BY source)
       |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_oov AS BIGINT) AS n_oov,
       |  CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------- distinctive terms

  /** Per-source distinctive vocabulary ([[graft.text.Distinctive]]):
    * weighted log-odds vs the rest of the corpus with an informative
    * Dirichlet prior, top 10 per source by z-score. The oracle replays
    * the vocab cut, both count tables, the prior, every named
    * intermediate in its pinned association order, the 1e-6
    * quantization, and the per-source rank — over the bounded
    * sources × vocab summary, where a window partition is safe.
    * Gate-only: the corpus-scale stages are the benched text_vocab /
    * text_pmi token-aggregate shapes; everything after runs on the
    * bounded summary.
    */
  def textDistinctive(spark: SparkSession, dir: String): DataFrame =
    Distinctive.distinctiveTerms(
        Tables.loadSpread(spark, dir, "documents"), "source", "text",
        vocabK = VocabK, topPerGroup = 10, alpha0 = 500.0)
      .orderBy(col("source"), col("z_q").desc, col("token"))

  val textDistinctiveSql: String =
    s"""WITH p AS (SELECT doc_id, source,
       |    unnest(regexp_extract_all(lower(coalesce(text, '')),
       |      '${TokenCount.TokenPattern}')) AS token
       |  FROM documents),
       |tv AS (SELECT token, count(*) AS yw FROM p GROUP BY token),
       |v AS (SELECT token, CAST(yw AS BIGINT) AS yw FROM
       |  (SELECT * FROM tv ORDER BY yw DESC, token LIMIT $VocabK)),
       |n AS (SELECT CAST(sum(yw) AS BIGINT) AS n FROM v),
       |g AS (SELECT p.source AS grp, p.token, count(*) AS ysw
       |  FROM p JOIN v ON v.token = p.token GROUP BY p.source, p.token),
       |ns AS (SELECT grp, CAST(sum(ysw) AS BIGINT) AS ns FROM g GROUP BY grp),
       |e AS (SELECT g.grp, g.token, g.ysw, v.yw,
       |    500.0 * v.yw / n.n AS aw,
       |    g.ysw + 500.0 * v.yw / n.n AS a,
       |    ns.ns + 500.0 - g.ysw - 500.0 * v.yw / n.n AS b,
       |    (v.yw - g.ysw) + 500.0 * v.yw / n.n AS c,
       |    (n.n - ns.ns) + 500.0 - (v.yw - g.ysw) - 500.0 * v.yw / n.n AS d
       |  FROM g JOIN v ON v.token = g.token
       |  JOIN ns ON ns.grp = g.grp CROSS JOIN n),
       |s AS (SELECT grp, token, ysw, yw,
       |    ln(a / b) - ln(c / d) AS delta,
       |    (ln(a / b) - ln(c / d)) / sqrt(1.0 / a + 1.0 / c) AS z
       |  FROM e),
       |q AS (SELECT grp, token, ysw, yw,
       |    CAST(floor(delta * 1e6) AS BIGINT) AS delta_q,
       |    CAST(floor(z * 1e6) AS BIGINT) AS z_q
       |  FROM s),
       |rk AS (SELECT *, row_number()
       |    OVER (PARTITION BY grp ORDER BY z_q DESC, token) AS rk FROM q)
       |SELECT grp AS source, token, ysw AS n_group, yw AS n_corpus,
       |  delta_q, z_q
       |FROM rk WHERE rk <= 10
       |ORDER BY source, z_q DESC, token""".stripMargin

  // -------------------------------------------------------------- novelty

  /** Marginal-contribution novelty under crawl (doc_id) order: the
    * share of each document's distinct shingles first seen in that
    * document ([[graft.text.Novelty]]). The signal dedup misses — a
    * document can clear every near-dup gate yet contribute nothing new.
    */
  def textNovelty(spark: SparkSession, dir: String): DataFrame =
    Novelty.noveltyPlan(
        Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textNoveltySql: String =
    s"""WITH ${DedupQueries.shingleCtes()},
       |hx AS (SELECT doc_id,
       |  CAST(${OracleDialect.hexPrefixToLong("md5(sh)", 15)} AS BIGINT)
       |    AS shh FROM shx),
       |f AS (SELECT shh, min(doc_id) AS fd FROM hx GROUP BY shh),
       |agg AS (SELECT hx.doc_id, count(*) AS n,
       |    sum(CASE WHEN hx.doc_id = f.fd THEN 1 ELSE 0 END) AS n_new
       |  FROM hx JOIN f ON f.shh = hx.shh GROUP BY hx.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(a.n_new, 0) AS BIGINT) AS n_new,
       |  COALESCE(CAST(a.n_new AS DOUBLE) / a.n, 0.0) AS novelty
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- drift

  private val DriftK = 20

  /** Token drift between the corpus and a re-crawl that lost the
    * doc_id % 7 == 0 slice: top movers by occurrence-rate change. The
    * oracle rebuilds both count tables, the outer merge, and the rate
    * arithmetic independently.
    */
  def textDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    Drift.tokenDrift(docs, docs.filter(col("doc_id") % 7 =!= 0),
        "text", DriftK)
      .orderBy(abs(col("delta_rate")).desc, col("token"))
  }

  val textDriftSql: String =
    s"""WITH pa AS (SELECT unnest(regexp_extract_all(lower(text),
       |    '${TokenCount.TokenPattern}')) AS token FROM documents),
       |ca AS (SELECT token, count(*) AS n_a FROM pa GROUP BY token),
       |pb AS (SELECT unnest(regexp_extract_all(lower(text),
       |    '${TokenCount.TokenPattern}')) AS token FROM documents
       |  WHERE doc_id % 7 != 0),
       |cb AS (SELECT token, count(*) AS n_b FROM pb GROUP BY token),
       |tot AS (SELECT (SELECT sum(n_a) FROM ca) AS ta,
       |  (SELECT sum(n_b) FROM cb) AS tb),
       |m AS (SELECT COALESCE(ca.token, cb.token) AS token,
       |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
       |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token)
       |SELECT token, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(n_b AS DOUBLE) / tb - CAST(n_a AS DOUBLE) / ta AS delta_rate
       |FROM m, tot
       |ORDER BY abs(delta_rate) DESC, token LIMIT $DriftK""".stripMargin

  // ------------------------------------------------------------ dup spans

  private val SpanK = 5

  def textDupspans(spark: SparkSession, dir: String): DataFrame =
    DupSpans.spans(Tables.loadSpread(spark, dir, "documents"),
        "doc_id", "text", k = SpanK)
      .orderBy("doc_id", "span_start")

  /** Same postings → doc-frequency → gaps-and-islands chain, recomputed
    * from scratch by DuckDB (its row_number/window machinery, its md5) —
    * positions are 1-based in both engines.
    */
  val textDupspansSql: String = {
    val gram = (0 until SpanK)
      .map(j => if (j == 0) "w[pos]" else s"w[pos+$j]").mkString("||' '||")
    val gh = OracleDialect.hexPrefixToLong(s"md5($gram)", 12)
    s"""WITH $wordsCte,
       |g AS (SELECT doc_id,
       |    unnest(generate_series(1, len(w) - ${SpanK - 1})) AS pos, w
       |  FROM w),
       |gh AS (SELECT doc_id, pos, CAST($gh AS BIGINT) AS gh FROM g),
       |dfq AS (SELECT gh, count(DISTINCT doc_id) AS df FROM gh GROUP BY gh),
       |mk AS (SELECT doc_id, pos FROM gh JOIN dfq USING (gh) WHERE df >= 2),
       |isl AS (SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM mk)
       |SELECT doc_id, min(pos) AS span_start,
       |  max(pos) + ${SpanK - 1} AS span_end,
       |  max(pos) - min(pos) + $SpanK AS span_tokens
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // ------------------------------------------------------------- excision

  def textExcise(spark: SparkSession, dir: String): DataFrame =
    DupSpans.excise(Tables.loadSpread(spark, dir, "documents"),
        "doc_id", "text", k = SpanK)
      .orderBy("doc_id")

  /** Rebuilds clean text independently: the span chain, covered
    * positions, anti-join, ordered string_agg — the hash pins every
    * removed token AND the reassembled byte-exact text.
    */
  val textExciseSql: String = {
    val gram = (0 until SpanK)
      .map(j => if (j == 0) "w[pos]" else s"w[pos+$j]").mkString("||' '||")
    val gh = OracleDialect.hexPrefixToLong(s"md5($gram)", 12)
    s"""WITH $wordsCte,
       |g AS (SELECT doc_id,
       |    unnest(generate_series(1, len(w) - ${SpanK - 1})) AS pos, w
       |  FROM w),
       |gh AS (SELECT doc_id, pos, CAST($gh AS BIGINT) AS gh FROM g),
       |dfq AS (SELECT gh, count(DISTINCT doc_id) AS df FROM gh GROUP BY gh),
       |mk AS (SELECT doc_id, pos FROM gh JOIN dfq USING (gh) WHERE df >= 2),
       |isl AS (SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM mk),
       |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + ${SpanK - 1} AS e
       |  FROM isl GROUP BY doc_id, grp),
       |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM spans),
       |tok AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w
       |  FROM w),
       |tok2 AS (SELECT doc_id, pos, w[pos] AS token FROM tok),
       |kept AS (SELECT t.doc_id, t.pos, t.token FROM tok2 t
       |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
       |  WHERE c.pos IS NULL),
       |agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
       |    count(*) AS n_kept FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       |  COALESCE(len(d.w), 0) - COALESCE(a.n_kept, 0) AS n_removed
       |FROM w d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------- fingerprint

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Fingerprint.fingerprints(
        Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textFingerprintSql: String = {
    val wh = OracleDialect.hexPrefixToLong("md5(x)", 6)
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      [CAST($wh AS BIGINT) for x in string_split(lower(text), ' ')]),
       |    (acc, h) -> (acc * 31 + h) % ${Fingerprint.Mod}) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- tfidf

  private val TfIdfK = 5

  /** Top characteristic terms per source by the rational TF-IDF score
    * (tf·N/df — see [[graft.text.TfIdf]] for why no log). The
    * documents table is keyed by doc_id (one row per id), satisfying
    * [[graft.text.TfIdf.topTerms]]'s precondition; TfIdfSpec pins what
    * breaks without it.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame =
    TfIdf.topTerms(Tables.loadSpread(spark, dir, "documents"),
        "doc_id", "text", "source", TfIdfK)
      .orderBy("stratum", "rank")

  val textTfidfSql: String =
    s"""WITH posts AS (
       |  SELECT doc_id, source AS stratum,
       |         unnest(string_split(lower(text), ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT stratum, term, count(*) AS tf FROM posts GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM posts) GROUP BY 1),
       |n AS (SELECT count(*) AS n_total FROM documents)
       |SELECT stratum, rank, term, score FROM (
       |  SELECT stratum, term,
       |    CAST(tf.tf AS DOUBLE) * CAST(n.n_total AS DOUBLE) / df.df AS score,
       |    ROW_NUMBER() OVER (PARTITION BY stratum
       |      ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n_total AS DOUBLE) / df.df
       |               DESC, term) AS rank
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |WHERE rank <= $TfIdfK ORDER BY stratum, rank""".stripMargin

  // ----------------------------------------------------------------- bm25

  private val Bm25FirstRank = 21
  private val Bm25Queries = 8
  private val Bm25K = 10

  /** BM25 keyword retrieval over corpus-derived queries: terms ranked
    * 21..36 by global frequency (past the stopword plateau), two per
    * query. Rational idf + fixed-point score sums — see
    * [[graft.text.Bm25]] for both trades.
    */
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    Bm25.topDocsDerivedQueries(docs, "doc_id", "text", Bm25FirstRank,
        Bm25Queries, Bm25K)
      .orderBy("q_id", "rank")
  }

  /** The oracle rebuilds the inverted index, the df/dl/avgdl model,
    * the ranked query-term set, and the quantized score sum. Float
    * literals interpolate from the SAME Scala doubles the engine uses
    * (`k1 + 1` is 2.1999999999999997, not 2.2 — shortest-roundtrip
    * toString, so both engines hold the identical bits).
    */
  val textBm25Sql: String = {
    val k1 = 1.2
    val b = 0.75
    val scale = (1L << 20).toDouble
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents),
       |p AS (SELECT doc_id, term FROM
       |  (SELECT doc_id, unnest(ws) AS term FROM w) WHERE term != ''),
       |pdt AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY 1, 2),
       |dfr AS (SELECT term, count(*) AS df FROM pdt GROUP BY 1),
       |dlr AS (SELECT doc_id, sum(tf) AS dl FROM pdt GROUP BY 1),
       |st AS (SELECT n_docs, CAST(tok AS DOUBLE) / n_docs AS avgdl FROM
       |  (SELECT (SELECT count(*) FROM documents) AS n_docs,
       |          (SELECT sum(tf) FROM pdt) AS tok)),
       |vr AS (SELECT term,
       |    ROW_NUMBER() OVER (ORDER BY count(*) DESC, term) AS r
       |  FROM p GROUP BY term),
       |qt AS (SELECT CAST(floor((r - $Bm25FirstRank) / 2) AS BIGINT)
       |    AS q_id, term
       |  FROM vr WHERE r >= $Bm25FirstRank
       |    AND r < ${Bm25FirstRank + 2 * Bm25Queries}),
       |sc AS (SELECT qt.q_id, pdt.doc_id,
       |    CAST(floor((((st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) *
       |      ((pdt.tf * CAST(${k1 + 1} AS DOUBLE)) / (pdt.tf + $k1 *
       |        (${1.0 - b} + $b * (dlr.dl / st.avgdl))))) * $scale)
       |      AS BIGINT) AS sq
       |  FROM pdt JOIN qt USING (term) JOIN dfr USING (term)
       |  JOIN dlr ON dlr.doc_id = pdt.doc_id CROSS JOIN st),
       |agg AS (SELECT q_id, doc_id, sum(sq) AS score_q
       |  FROM sc GROUP BY 1, 2)
       |SELECT q_id, rank, doc_id, score_q / $scale AS score FROM (
       |  SELECT q_id, doc_id, score_q,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score_q DESC, doc_id) AS rank FROM agg)
       |WHERE rank <= $Bm25K ORDER BY q_id, rank""".stripMargin
  }

  /** The keyword-retrieval lifecycle over the TRANSACTIONAL
    * table-backed index ([[graft.text.Bm25Table]] — the exactly-once
    * form of the catalog index, whose aggregate folds double-count on
    * a replayed micro-batch): a seed corpus indexes at create, the
    * rest arrives through a CowTable change feed whose micro-batches
    * fold under Txn stamps (df/doclen/stats as keyed merges, postings
    * as stamped appends), and serving plans the postings scan off the
    * manifest (term zone maps, [[graft.tables.CowTable.readMatchingAny]]).
    * All index state is integers, so fold-then-serve ≡
    * index-the-union EXACTLY — the oracle is [[textBm25Sql]] VERBATIM,
    * pinning the whole transactional machinery as contents-invisible
    * for clean runs (replay/crash behavior is spec-pinned:
    * Bm25TableSpec).
    */
  def pipelineFeedKeyword(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_cow/" +
      s"${new java.io.File(dir).getName}"
    val raw = s"$root/fkw_src"
    val idx = s"$root/fkw_idx"
    val ckpt = s"$root/fkw_ckpt"
    Seq(raw, idx, ckpt).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = graft.tables.TxLog.fs(spark, p)
      if (fs.exists(hp)) { fs.delete(hp, true); () }
    }
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select("doc_id", "text")
    val seedCut = col("doc_id") % 3 =!= 2
    graft.tables.CowTable.create(spark, raw, docs.filter(seedCut),
      Seq("doc_id"))
    graft.text.Bm25Table.create(spark, idx,
      graft.tables.CowTable.read(spark, raw, Some(1L)), "doc_id", "text")
    graft.tables.CowTable.append(spark, raw, docs.filter(!seedCut))
    val feed = graft.streaming.TableChangeFeed
      .readChanges(spark, raw, startingVersion = 2L)
      .select("doc_id", "text")
    val q = graft.streaming.MicroBatch.each(feed) { (batchId, batch) =>
        graft.text.Bm25Table.fold(batch.sparkSession, idx, batch,
          "doc_id", "text",
          txn = Some(graft.tables.TxLog.Txn("gate-feed-keyword", batchId)))
      }
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    graft.text.Bm25Table.topDocs(spark, idx,
        Bm25.rankedQueryTerms(docs, "doc_id", "text", Bm25FirstRank,
          Bm25Queries), Bm25K)
      .orderBy("q_id", "rank")
  }

  // ------------------------------------------------------------ normalize

  /** Canonical normalized text + dedup key per document (case /
    * punctuation / whitespace insensitive).
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        Normalize.canonical(col("text")).as("canonical"),
        Normalize.canonicalKey(col("text")).as("canon_key"))
      .orderBy("doc_id")

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |    ' +', ' ', 'g')) AS canonical,
      |  md5(trim(regexp_replace(
      |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |    ' +', ' ', 'g'))) AS canon_key
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- pack

  /** Sequence packing (concat-and-chunk at 512 tokens). bucketWidth 100
    * forces the hierarchical offset path through multiple buckets even
    * at test scale; the oracle computes the SAME offsets with a single
    * flat window — an independent formulation, so a hash match checks
    * the two-level scan's arithmetic, not a shared implementation.
    */
  def textPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val counts = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(TokenCount.tokens(col("text")))
        .as("n_tokens"))
    SeqPack.packPlan(counts, "doc_id", "n_tokens",
        seqLen = 512, bucketWidth = 100)
      .orderBy("doc_id")
  }

  private val packOffsetsCte: String =
    s"""t AS (
       |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text),
       |    '${TokenCount.TokenPattern}')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_off
       |  FROM t)""".stripMargin

  val textPackSql: String =
    s"""WITH $packOffsetsCte
       |SELECT doc_id, n_tokens, start_off,
       |  start_off // 512 AS pack_first,
       |  (start_off + greatest(n_tokens, 1) - 1) // 512 AS pack_last
       |FROM o ORDER BY doc_id""".stripMargin

  /** Pack fill report over the same packing. */
  def textPackStats(spark: SparkSession, dir: String): DataFrame =
    SeqPack.packStats(textPack(spark, dir), seqLen = 512)
      .orderBy("pack_id")

  val textPackStatsSql: String =
    s"""WITH $packOffsetsCte,
       |p AS (
       |  SELECT doc_id, n_tokens, start_off,
       |    start_off // 512 AS pack_first FROM o),
       |tot AS (SELECT max(start_off + n_tokens) AS stream_end FROM p)
       |SELECT pack_first AS pack_id,
       |  count(*) AS n_docs_starting,
       |  least(512, stream_end - pack_first * 512) AS tokens_filled
       |FROM p, tot
       |GROUP BY pack_first, stream_end ORDER BY pack_id""".stripMargin

  // -------------------------------------------------------- gopher rules

  /** Composite rule screen ([[graft.text.GopherRules]]). Gate-only:
    * runtime faces are `text_stats`' shuffle-free projection and
    * `text_repetition`'s bigram aggregate — this query adds one
    * id-keyed summary join and the verdict projection.
    */
  def textGopher(spark: SparkSession, dir: String): DataFrame =
    GopherRules.screen(
        Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textGopherSql: String = {
    val cfg = GopherRules.Config()
    val stop = OracleDialect.stringList(TextStats.Stopwords)
    s"""WITH w AS (
       |  SELECT doc_id, text, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |scalar AS (SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_words,
       |  CAST(length(text) - len(w) + 1 AS DOUBLE) / len(w) AS avg_word_len,
       |  CAST(len(list_filter(w, x -> list_contains($stop, x))) AS DOUBLE)
       |    / len(w) AS stopword_ratio,
       |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS diversity
       |  FROM w),
       |g AS (
       |  SELECT doc_id, CASE WHEN len(w) >= 2 THEN
       |      [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]
       |    ELSE [] END AS grams FROM w),
       |e AS (
       |  SELECT doc_id, UNNEST(CASE WHEN len(grams) = 0 THEN [NULL]
       |    ELSE grams END) AS gram FROM g),
       |h AS (
       |  SELECT doc_id, gram, count(gram) AS n FROM e GROUP BY doc_id, gram),
       |rep AS (
       |  SELECT doc_id,
       |    CASE WHEN COALESCE(sum(n), 0) > 0
       |      THEN CAST(max(n) AS DOUBLE) / CAST(sum(n) AS BIGINT)
       |      ELSE 0.0 END AS top_2gram_frac
       |  FROM h GROUP BY doc_id),
       |v AS (SELECT s.*, rep.top_2gram_frac,
       |  concat_ws(',',
       |    CASE WHEN n_words < ${cfg.minWords} OR n_words > ${cfg.maxWords}
       |      THEN 'wordcount' END,
       |    CASE WHEN avg_word_len < ${cfg.minAvgWordLen}
       |           OR avg_word_len > ${cfg.maxAvgWordLen} THEN 'meanlen' END,
       |    CASE WHEN stopword_ratio < ${cfg.minStopwordRatio}
       |      THEN 'stopword' END,
       |    CASE WHEN diversity < ${cfg.minDiversity} THEN 'diversity' END,
       |    CASE WHEN top_2gram_frac > ${cfg.maxTopBigramFrac}
       |      THEN 'repetition' END) AS reasons
       |  FROM scalar s JOIN rep ON rep.doc_id = s.doc_id)
       |SELECT doc_id, n_words, avg_word_len, stopword_ratio, diversity,
       |  top_2gram_frac, reasons = '' AS keep, reasons
       |FROM v ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------- calibration

  /** Within-source percentile calibration of the quality score
    * ([[graft.text.QualityCalibration]]) — makes "keep the top X%"
    * mean the same thing in every source regardless of score
    * distribution. Gate-only: runtime face is `text_stats`' projection
    * plus one source-partitioned rank window.
    */
  def textQualityCalib(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val scored = docs.select(col("doc_id"), col("source"),
      TextStats.qualityScore(
        graft.text.TextFeatures.words(col("text"))).as("quality"))
    QualityCalibration.percentileRank(scored, "doc_id", "source",
        col("quality"))
      .orderBy("doc_id")
  }

  val textQualityCalibSql: String =
    s"""WITH $wordsCte,
       |sc AS (SELECT w.doc_id, d.source, $qualityExpr AS quality
       |  FROM w JOIN documents d ON d.doc_id = w.doc_id)
       |SELECT doc_id, source, quality,
       |  CASE WHEN count(*) OVER (PARTITION BY source) > 1
       |    THEN CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY quality, doc_id) - 1 AS DOUBLE)
       |         / (count(*) OVER (PARTITION BY source) - 1)
       |    ELSE 0.0 END AS pct
       |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- repetition

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Repetition.metrics(
        Tables.loadSpread(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textRepetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 2 THEN
      |      [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]
      |    ELSE [] END AS grams FROM w),
      |e AS (
      |  SELECT doc_id, UNNEST(CASE WHEN len(grams) = 0 THEN [NULL]
      |    ELSE grams END) AS gram FROM g),
      |h AS (
      |  SELECT doc_id, gram, count(gram) AS n FROM e GROUP BY doc_id, gram)
      |SELECT doc_id,
      |  CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_2grams,
      |  count(gram) AS n_distinct_2grams,
      |  CAST(COALESCE(max(n), 0) AS BIGINT) AS top_2gram_n,
      |  CASE WHEN COALESCE(sum(n), 0) > 0
      |    THEN CAST(max(n) AS DOUBLE) / CAST(sum(n) AS BIGINT)
      |    ELSE 0.0 END AS top_2gram_frac
      |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- decontam

  private val DecontamMinShared = 5

  /** Benchmark decontamination: every 10th document plays the eval
    * set; the rest is the corpus. Broadcast-join shape — see
    * [[graft.text.Decontam]].
    */
  def textDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    Decontam.overlap(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, minSharedGrams = DecontamMinShared)
      .orderBy("doc_id")
  }

  val textDecontamSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
       |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |      for i in generate_series(1, len(w) - 2)])
       |  ELSE [] END AS grams FROM w),
       |p AS (SELECT doc_id, unnest(grams) AS gram FROM g),
       |ev AS (SELECT DISTINCT gram FROM p WHERE doc_id % 10 = 0),
       |tr AS (SELECT doc_id, gram FROM p WHERE doc_id % 10 != 0)
       |SELECT tr.doc_id, count(*) AS shared_grams,
       |  CAST(CASE WHEN count(*) >= $DecontamMinShared THEN 1 ELSE 0 END
       |    AS INT) AS contaminated
       |FROM tr JOIN ev USING (gram)
       |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin

  /** The Bloom-prefiltered decontamination path on the same split —
    * exact-identical output to [[textDecontam]] by construction, so it
    * shares that oracle verbatim: the hash match proves the
    * prefilter+verify pipeline loses nothing and admits nothing.
    */
  def textDecontamBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    Decontam.overlapBloom(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, minSharedGrams = DecontamMinShared)
      .orderBy("doc_id")
  }

  /** Gate-only (no bench slot — the runtime face is text_decontam's;
    * same postings + broadcast join + per-doc aggregate, one more
    * aggregate column): the contamination-FRACTION form. The oracle
    * re-derives the per-doc denominator independently (len of the
    * distinct gram list) and the same single division.
    */
  def textDecontamFrac(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    Decontam.overlapFraction(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  val textDecontamFracSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
       |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |      for i in generate_series(1, len(w) - 2)])
       |  ELSE [] END AS grams FROM w),
       |p AS (SELECT doc_id, len(grams) AS total, unnest(grams) AS gram
       |  FROM g),
       |ev AS (SELECT DISTINCT gram FROM p WHERE doc_id % 10 = 0),
       |tr AS (SELECT doc_id, total, gram FROM p WHERE doc_id % 10 != 0)
       |SELECT tr.doc_id, count(*) AS shared_grams,
       |  max(total) AS total_grams,
       |  CAST(count(*) AS DOUBLE) / max(total) AS contaminated_frac
       |FROM tr JOIN ev USING (gram)
       |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ pii

  /** PII redaction. The synthetic corpus carries no PII, so both
    * engines append the SAME deterministic contact block per document
    * (id-derived email/IP/phone) before scrubbing — the oracle then
    * verifies counts and the full scrubbed text byte-for-byte.
    */
  def textPii(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val injected = docs.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"),
        lit(" call +1-555-"), (lit(1000) + col("doc_id") % 9000).cast("string"))
        .as("text"))
    PiiScrub.redact(injected, "doc_id", "text").orderBy("doc_id")
  }

  val textPiiSql: String = {
    val injected = "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)" +
      " || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)" +
      " || ' call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    // single-quoted DuckDB strings take backslashes literally, so the
    // Java-regex pattern strings embed as-is
    val email = PiiScrub.EmailPattern
    val ip = PiiScrub.IpPattern
    val phone = PiiScrub.PhonePattern
    s"""WITH t AS (SELECT doc_id, $injected AS text FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$ip', '<IP>', 'g'), '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS scrubbed
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- chunks

  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Overlapping-window chunking at 64 tokens / stride 48. */
  def textChunks(spark: SparkSession, dir: String): DataFrame =
    Chunker.chunks(Tables.loadSpread(spark, dir, "documents"),
        "doc_id", "text", ChunkSize, ChunkStride)
      .orderBy("doc_id", "chunk_idx")

  val textChunksSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |n AS (SELECT doc_id, w,
       |    CASE WHEN len(w) <= $ChunkSize THEN 1
       |      ELSE CAST(1 + ceil(CAST(len(w) - $ChunkSize AS DOUBLE)
       |        / $ChunkStride) AS BIGINT) END AS n_chunks
       |  FROM w),
       |c AS (SELECT doc_id, w,
       |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM n),
       |s AS (SELECT doc_id, chunk_idx,
       |    w[chunk_idx * $ChunkStride + 1 :
       |      chunk_idx * $ChunkStride + $ChunkSize] AS toks FROM c)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(toks, ' ')) AS chunk_hash
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------------------------ bpe

  private val BpeMerges = 8
  private val BpeVocab = 256

  /** BPE merge-rule training ([[graft.text.BpeTrain]]): 8 rounds over
    * the 256 most frequent words. The oracle re-LEARNS all 8 rounds
    * independently — chained CTEs (the PageRank/k-means unrolling):
    * per round a lateral adjacent-pair count, a (total desc, pair asc)
    * argmax, and a `list_reduce` greedy merge whose string accumulator
    * reproduces [[graft.expressions.ApplyMerge]]'s left-to-right
    * no-overlap semantics — so the hash match proves the entire
    * count→argmax→merge chain bit-reproducible cross-engine.
    */
  def textBpe(spark: SparkSession, dir: String): DataFrame =
    BpeTrain.merges(Tables.loadSpread(spark, dir, "documents"),
        "text", BpeMerges, BpeVocab)
      .orderBy("rnk")

  /** The greedy-merge `list_reduce` body over a pre-split list column
    * `l`, merging trailing `lft` when `rgt` arrives — the oracle's
    * reproduction of [[graft.expressions.ApplyMerge]]'s exact
    * left-to-right no-overlap semantics.
    */
  private def bpeReduce: String =
    s"""CASE WHEN len(l) < 2 THEN seq ELSE
       |    list_reduce(l, (acc, x) -> CASE WHEN x = t.rgt AND
       |        (acc = t.lft OR right(acc, length(t.lft) + 1) = ' ' || t.lft)
       |      THEN left(acc, length(acc) - length(t.lft)) || t.lft || t.rgt
       |      ELSE acc || ' ' || x END) END""".stripMargin

  /** Shared training CTEs: word table `wf`, char-seeded `w0`, and per
    * round r the pair counts `p_r`, the argmax rule `t_r`, and the
    * merged table `w_r`.
    */
  private def bpeTrainCtes: String = {
    def round(r: Int): String =
      s"""p$r AS (SELECT pr.pair, CAST(SUM(cnt) AS BIGINT) AS total
         |  FROM (SELECT cnt, string_split(seq, ' ') AS l FROM w${r - 1}) s,
         |  LATERAL (SELECT s.l[CAST(i AS INT)] || ' ' ||
         |      s.l[CAST(i AS INT) + 1] AS pair
         |    FROM unnest(range(1, len(s.l))) AS rr(i)) pr
         |  GROUP BY pr.pair),
         |t$r AS (SELECT pair, total,
         |    string_split(pair, ' ')[1] AS lft,
         |    string_split(pair, ' ')[2] AS rgt
         |  FROM p$r ORDER BY total DESC, pair ASC LIMIT 1),
         |w$r AS (SELECT word, cnt, $bpeReduce AS seq
         |  FROM (SELECT word, cnt, seq, string_split(seq, ' ') AS l
         |        FROM w${r - 1}), t$r t)""".stripMargin
    val rounds = (1 to BpeMerges).map(round).mkString(",\n")
    s"""toks AS (SELECT unnest(regexp_extract_all(lower(text),
       |    '${TokenCount.TokenPattern}')) AS word FROM documents),
       |wf AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word
       |  ORDER BY cnt DESC, word ASC LIMIT $BpeVocab),
       |w0 AS (SELECT word, cnt,
       |    array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq
       |  FROM wf),
       |$rounds""".stripMargin
  }

  /** Starvation asymmetry (documented, acceptable): on a corpus that
    * runs out of adjacent pairs mid-training, `BpeTrain.merges` throws
    * at the starved round, while the oracle's `t_r ... LIMIT 1` on an
    * empty pair table silently yields an empty round and a SHORT merge
    * table — the two engines fail differently, but the gate still
    * fails loudly either way (Spark errors / row counts mismatch); the
    * benched corpus never starves at [[BpeMerges]] rounds.
    */
  val textBpeSql: String = {
    val unions = (1 to BpeMerges)
      .map(r => s"SELECT CAST($r AS BIGINT) AS rnk, lft, rgt, total FROM t$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT rnk, lft AS "left", rgt AS "right", total AS pair_count
       |FROM ($unions)
       |ORDER BY rnk""".stripMargin
  }

  /** Serving face: train (as above), then segment EVERY document's
    * tokens with the learned table — gate-only, no bench slot (the
    * serving path's runtime is the family's, like `embed_kmeans_label`).
    * The oracle re-learns the rules AND re-applies all 8 rounds at the
    * (doc, token) level, reassembling with " | " separators.
    */
  def textBpeSegment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val rules = BpeTrain.merges(docs, "text", BpeMerges, BpeVocab)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    BpeTrain.segment(docs, "doc_id", "text", rules).orderBy("doc_id")
  }

  val textBpeSegmentSql: String = {
    def round(r: Int): String =
      s"""d$r AS (SELECT doc_id, ord, $bpeReduce AS seq
         |  FROM (SELECT doc_id, ord, seq, string_split(seq, ' ') AS l
         |        FROM d${r - 1}), t$r t)""".stripMargin
    val rounds = (1 to BpeMerges).map(round).mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |dt AS (SELECT doc_id, i AS ord, ts[CAST(i AS INT)] AS tok FROM
       |  (SELECT doc_id, regexp_extract_all(lower(text),
       |     '${TokenCount.TokenPattern}') AS ts FROM documents) d,
       |  LATERAL unnest(range(1, len(d.ts) + 1)) AS rr(i)),
       |d0 AS (SELECT doc_id, ord,
       |    array_to_string(list_transform(range(1, length(tok) + 1),
       |      i -> substr(tok, CAST(i AS INT), 1)), ' ') AS seq
       |  FROM dt),
       |$rounds,
       |agg AS (SELECT doc_id, string_agg(seq, ' | ' ORDER BY ord)
       |    AS segmented FROM d${BpeMerges} GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.segmented, '') AS segmented
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ bigram lm

  /** Bigram LM scoring ([[graft.text.BigramLm]]): model fit on the
    * EVEN doc_ids, odd docs scored — so unseen transitions actually
    * occur and the smoothing floor is exercised under the gate.
    * Gate-only: runtime face is `text_lm_score`'s broadcast-model
    * projection shape (one map lookup per bigram instead of per
    * token).
    */
  def textBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val fitted = graft.text.BigramLm.model(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", VocabK)
    graft.text.BigramLm.scoreWith(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", fitted)
      .orderBy("doc_id")
  }

  val textBigramLmSql: String = {
    val kd = VocabK + 2
    def side(tag: String, parity: Int): String =
      s"""t_$tag AS (SELECT doc_id,
         |    regexp_extract_all(lower(coalesce(text, '')),
         |      '${TokenCount.TokenPattern}') AS t
         |  FROM documents WHERE doc_id % 2 = $parity),
         |tok_$tag AS (SELECT doc_id, pos, t[pos] AS token FROM
         |  (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
         |   FROM t_$tag)),
         |cls_$tag AS (SELECT k.doc_id, k.pos,
         |    CASE WHEN v.token IS NULL THEN chr(1) ELSE k.token END AS cls
         |  FROM tok_$tag k LEFT JOIN v ON v.token = k.token),
         |pair_$tag AS (SELECT a.doc_id, a.pos, a.cls AS c1, b.cls AS c2
         |  FROM cls_$tag a JOIN cls_$tag b
         |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1)""".stripMargin
    s"""WITH ptr AS (SELECT doc_id,
       |    unnest(regexp_extract_all(lower(coalesce(text, '')),
       |      '${TokenCount.TokenPattern}')) AS token
       |  FROM documents WHERE doc_id % 2 = 0),
       |pd AS (SELECT token, doc_id, count(*) AS n FROM ptr
       |  GROUP BY token, doc_id),
       |tv AS (SELECT token, sum(n) AS n_occurrences FROM pd GROUP BY token),
       |v AS (SELECT token FROM
       |  (SELECT * FROM tv ORDER BY n_occurrences DESC, token
       |   LIMIT $VocabK)),
       |${side("tr", 0)},
       |b12 AS (SELECT c1, c2, count(*) AS cnt FROM pair_tr GROUP BY c1, c2),
       |b1 AS (SELECT c1, CAST(sum(cnt) AS BIGINT) AS cnt1 FROM b12
       |  GROUP BY c1),
       |${side("sc", 1)},
       |terms AS (SELECT p.doc_id, p.pos,
       |    CAST(COALESCE(b12.cnt, 0) + 1 AS DOUBLE) AS c,
       |    CAST(COALESCE(b1.cnt1, 0) + $kd AS DOUBLE) AS dc1,
       |    CASE WHEN b12.cnt IS NULL THEN 1 ELSE 0 END AS unseen
       |  FROM pair_sc p LEFT JOIN b12 ON b12.c1 = p.c1 AND b12.c2 = p.c2
       |  LEFT JOIN b1 ON b1.c1 = p.c1),
       |tt AS (SELECT doc_id, pos, unseen, dc1 / c AS rar,
       |    -ln(c / dc1) AS nll FROM terms),
       |agg AS (SELECT doc_id, count(*) AS nb,
       |    CAST(sum(unseen) AS BIGINT) AS n_unseen,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(rar ORDER BY pos)), (a, b) -> a + b) AS rarsum,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(nll ORDER BY pos)), (a, b) -> a + b) AS nllsum
       |  FROM tt GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.nb, 0) AS BIGINT) AS n_bigrams,
       |  COALESCE(a.n_unseen, 0) AS n_unseen,
       |  COALESCE(a.rarsum / a.nb, 0.0) AS rarity_mean,
       |  CAST(COALESCE(floor(a.nllsum / a.nb * 1e6), 0) AS BIGINT) AS nll_q
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ datasheet

  /** Per-source corpus DATASHEET — the one-call "data card" a corpus
    * release ships: document and token counts, fixed-point quality
    * mass (sum of floor(quality·2^20) — exact integers, so the mean is
    * derivable and the gate is hash-safe), exact-duplicate involvement
    * (rows whose md5(text) repeats within the source), and the
    * majority predicted language with its document count. Composes
    * the verified quality/langid/dedup primitives; one corpus scan
    * feeds three group-keyed aggregates joined as summary frames (the
    * distinct-token face stays `kmv_distinct`'s sketch — an exact
    * per-source distinct is deliberately NOT here, it would be the one
    * non-bounded aggregate in the report). Gate-only: runtime face is
    * the text family's one-scan shapes.
    */
  def pipelineDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val w = TextFeatures.words(col("text"))
    val perDoc = docs.select(col("source"),
        size(w).cast("long").as("n_toks"),
        floor(TextStats.qualityScore(w) * lit((1L << 20).toDouble))
          .cast("long").as("q_fp"),
        LangId.predictCol(w).as("lang"), md5(col("text")).as("h"))
      .persist()
    val base = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
      sum("q_fp").as("q_sum_fp"))
    val dups = perDoc.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L))
        .as("n_dup_rows"))
    val w2 = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("lang"))
    val langs = perDoc.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("cnt").as("top_lang_docs"))
    base.join(dups, "source").join(langs, "source").orderBy("source")
  }

  val pipelineDatasheetSql: String =
    s"""WITH w AS (SELECT source, text, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |sc AS (SELECT source, len(w) AS n_toks,
       |    CAST(floor(($qualityExpr) * 1048576e0) AS BIGINT) AS q_fp,
       |    md5(text) AS h,
       |    $langScoreSelect
       |  FROM w),
       |pd AS (SELECT source, n_toks, q_fp, h,
       |    $langBestExpr AS best,
       |    ${LangId.Lexicons.map(l => s"s_${l._1}").mkString(", ")}
       |  FROM sc),
       |pl AS (SELECT source, n_toks, q_fp, h,
       |    $langPredCase AS lang FROM pd),
       |base AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |    CAST(sum(q_fp) AS BIGINT) AS q_sum_fp
       |  FROM pl GROUP BY source),
       |dup0 AS (SELECT source, h, count(*) AS cnt FROM pl
       |  GROUP BY source, h),
       |dups AS (SELECT source,
       |    CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
       |      AS n_dup_rows
       |  FROM dup0 GROUP BY source),
       |lc AS (SELECT source, lang, count(*) AS cnt FROM pl
       |  GROUP BY source, lang),
       |langs AS (SELECT source, lang AS top_lang, cnt AS top_lang_docs
       |  FROM (SELECT source, lang, cnt,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY cnt DESC, lang) AS rn FROM lc)
       |  WHERE rn = 1)
       |SELECT b.source, b.n_docs, b.n_tokens, b.q_sum_fp,
       |  d.n_dup_rows, l.top_lang, l.top_lang_docs
       |FROM base b JOIN dups d ON d.source = b.source
       |JOIN langs l ON l.source = b.source
       |ORDER BY b.source""".stripMargin

  /** HTML → text extraction ([[graft.text.Extract]]) over a
    * deterministic crawl fixture built from `documents` (page chrome +
    * the text as two escaped paragraphs — construction mirrored in the
    * oracle, see [[graft.text.Extract.syntheticHtml]]). The gate runs
    * the NATIVE single-scan expression; the oracle replays the
    * five-regex declarative definition, so the generated code is
    * re-proven against an independent engine every round.
    */
  def textExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    Extract.fromHtml(
        docs.select(col("doc_id"),
          Extract.syntheticHtml(col("doc_id"), col("source"), col("lang"),
            col("text")).as("html")),
        "doc_id", "html")
      .orderBy("doc_id")
  }

  val textExtractSql: String =
    s"""WITH h AS (SELECT doc_id, ${Extract.syntheticHtmlSql} AS html
       |  FROM documents),
       |${Extract.extractSqlCtes("h")}
       |SELECT doc_id, array_to_string(ks, chr(10)) AS text,
       |  CAST(len(nz) AS INT) AS n_lines, CAST(len(ks) AS INT) AS n_kept
       |FROM x7 ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_extract" -> (textExtract(_, _)),
    "pipeline_datasheet" -> (pipelineDatasheet(_, _)),
    "text_bigram_lm" -> (textBigramLm(_, _)),
    "text_bpe" -> (textBpe(_, _)),
    "text_bpe_segment" -> (textBpeSegment(_, _)),
    "text_decontam" -> (textDecontam(_, _)),
    "text_decontam_bloom" -> (textDecontamBloom(_, _)),
    "text_decontam_frac" -> (textDecontamFrac(_, _)),
    "text_pii" -> (textPii(_, _)),
    "text_chunks" -> (textChunks(_, _)),
    "text_stats" -> (textStats(_, _)),
    "text_entropy" -> (textEntropy(_, _)),
    "text_repetition" -> (textRepetition(_, _)),
    "text_gopher" -> (textGopher(_, _)),
    "text_quality_calib" -> (textQualityCalib(_, _)),
    "text_langid" -> (textLangid(_, _)),
    "text_fertility" -> (textFertility(_, _)),
    "text_langid_uni" -> (textLangidUni(_, _)),
    "text_tokens" -> (textTokens(_, _)),
    "text_fingerprint" -> (textFingerprint(_, _)),
    "text_dupspans" -> (textDupspans(_, _)),
    "text_vocab" -> (textVocab(_, _)),
    "text_zipf" -> (textZipf(_, _)),
    "text_heaps" -> (textHeaps(_, _)),
    "text_vocab_uni" -> (textVocabUni(_, _)),
    "text_heavyhitters" -> (textHeavyHitters(_, _)),
    "text_heavyhitters_grouped" -> (textHeavyHittersGrouped(_, _)),
    "text_pmi" -> (textPmi(_, _)),
    "text_encode" -> (textEncode(_, _)),
    "text_drift" -> (textDrift(_, _)),
    "text_lm_score" -> (textLmScore(_, _)),
    "text_ppl_buckets" -> (textPplBuckets(_, _)),
    "text_novelty" -> (textNovelty(_, _)),
    "text_distinctive" -> (textDistinctive(_, _)),
    "text_oov" -> (textOov(_, _)),
    "text_ppl_apply" -> (textPplApply(_, _)),
    "text_excise" -> (textExcise(_, _)),
    "text_tfidf" -> (textTfidf(_, _)),
    "text_bm25" -> (textBm25(_, _)),
    "pipeline_feed_keyword" -> (pipelineFeedKeyword(_, _)),
    "text_normalize" -> (textNormalize(_, _)),
    "text_pack" -> (textPack(_, _)),
    "text_pack_stats" -> (textPackStats(_, _)))

  val oracleSql: Map[String, String] = Map(
    "text_extract" -> textExtractSql,
    "pipeline_datasheet" -> pipelineDatasheetSql,
    "text_bigram_lm" -> textBigramLmSql,
    "text_bpe" -> textBpeSql,
    "text_bpe_segment" -> textBpeSegmentSql,
    "text_decontam" -> textDecontamSql,
    "text_decontam_bloom" -> textDecontamSql,
    "text_decontam_frac" -> textDecontamFracSql,
    "text_pii" -> textPiiSql,
    "text_chunks" -> textChunksSql,
    "text_stats" -> textStatsSql,
    "text_entropy" -> textEntropySql,
    "text_repetition" -> textRepetitionSql,
    "text_gopher" -> textGopherSql,
    "text_quality_calib" -> textQualityCalibSql,
    "text_langid" -> textLangidSql,
    "text_fertility" -> textFertilitySql,
    "text_langid_uni" -> textLangidUniSql,
    "text_tokens" -> textTokensSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_dupspans" -> textDupspansSql,
    "text_vocab" -> textVocabSql,
    "text_zipf" -> textZipfSql,
    "text_heaps" -> textHeapsSql,
    "text_vocab_uni" -> textVocabUniSql,
    "text_heavyhitters" -> textHeavyHittersSql,
    "text_heavyhitters_grouped" -> textHeavyHittersGroupedSql,
    "text_pmi" -> textPmiSql,
    "text_encode" -> textEncodeSql,
    "text_drift" -> textDriftSql,
    "text_lm_score" -> textLmScoreSql,
    "text_ppl_buckets" -> textPplBucketsSql,
    "text_novelty" -> textNoveltySql,
    "text_distinctive" -> textDistinctiveSql,
    "text_oov" -> textOovSql,
    // shared verbatim: labeling the reference corpus against its own
    // frozen boundaries must equal the rank-based bucketing
    "text_ppl_apply" -> textPplBucketsSql,
    "text_excise" -> textExciseSql,
    "text_tfidf" -> textTfidfSql,
    "text_bm25" -> textBm25Sql,
    "pipeline_feed_keyword" -> textBm25Sql,
    "text_normalize" -> textNormalizeSql,
    "text_pack" -> textPackSql,
    "text_pack_stats" -> textPackStatsSql)
}
