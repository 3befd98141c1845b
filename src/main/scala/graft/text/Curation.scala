package graft.text

import graft.dedup.{ExactDedup, MinHashLSH}
import graft.text.TextFeatures._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data
  * pipeline actually runs, built from the family operators:
  *
  *   1. exact dedup: keep-best-row by content hash;
  *   2. score: quality + language ID in ONE projection (no join of
  *      per-feature frames — all features come from the same token
  *      array, so they belong in one pass over the scan);
  *   3. filter: keep target-language docs above a quality floor;
  *   4. near-dedup: MinHash-LSH verified pairs, drop the higher id of
  *      each pair (keep-first policy — deterministic; transitive
  *      clusters would need a connected-components pass, out of scope
  *      for a one-shot curation sweep and rarely material at the 0.8
  *      threshold).
  *
  * Dedup-before-score commutes EXACTLY with score-before-dedup (the
  * oracle computes the latter): quality and language are pure functions
  * of the text, so a text's clones all pass or all fail the filter, and
  * the min-id representative of each text group is unchanged. Dedup
  * first is chosen deliberately:
  *   - at scale, the corpus is scored once per UNIQUE text instead of
  *     once per copy — with real dup rates (30–60% of a web crawl)
  *     that's the larger term;
  *   - the window is an optimizer BARRIER for the score-derived filter.
  *     Filtered-first plans let Catalyst push the filter below the
  *     parallelizing repartition with the full quality+langid expression
  *     tree inlined (predicates duplicate through projections) — the
  *     whole lexicon scan then runs twice per row on the scan's single
  *     input split (measured ~1.5s of the query at sf0.1). Above the
  *     window, the filter evaluates post-shuffle, in parallel, once.
  */
object Curation {

  case class Config(
      minQuality: Double = 0.4,
      lang: String = "en",
      lsh: MinHashLSH.Config = MinHashLSH.Config())

  /** The audit face of [[curate]]: EVERY input document with its
    * verdict — `kept` or the FIRST stage that dropped it
    * (`exact_dup` → `quality` → `language` → `near_dup`, the pipeline
    * order), plus the scores and, for dedup drops, the surviving
    * representative it lost to. The per-document decision log a data
    * governance review asks for ("why is this doc not in the training
    * set?"); same stage operators, same configs, so
    * `curateAudit.filter(verdict = 'kept')` ≡ [[curate]]'s row set
    * (spec-pinned, and the oracle replays every stage verdict).
    *
    * Scale shape: identical to [[curate]] plus one md5-keyed window
    * for the exact-dup representative and a broadcast-sized join of
    * near-dup losers — no new data-scale stage.
    */
  def curateAudit(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // exact-dup verdict: the min-id representative of each text group
    // survives; clones record it
    // md5(text) WITHOUT coalesce — null-text docs hash to null and
    // window partitioning groups null keys exactly like curate's
    // keepBest groupKey does
    val rep = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    val withRep = base.withColumn("__rep", min(col("doc_id")).over(rep))
    val w = words(col("text"))
    val scored = withRep.select(col("doc_id"), col("text"), col("__rep"),
      TextStats.qualityScore(w).as("quality"),
      LangId.predictCol(w).as("lang_pred"))
    // near-dup losers come from the SAME pair pipeline curate runs —
    // over the kept-so-far survivors only (pipeline order matters: a
    // quality-dropped doc never reaches the LSH stage)
    val survivors = scored
      .filter(col("doc_id") === col("__rep") &&
        col("quality") >= cfg.minQuality && col("lang_pred") === cfg.lang)
    val losers = MinHashLSH
      .nearDuplicatePairs(survivors, "doc_id", "text", cfg.lsh)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("__lost_to"))
    scored.join(losers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"), col("lang_pred"),
        when(col("doc_id") =!= col("__rep"), lit("exact_dup"))
          .when(col("quality") < cfg.minQuality, lit("quality"))
          .when(col("lang_pred") =!= cfg.lang, lit("language"))
          .when(col("__lost_to").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("verdict"),
        when(col("doc_id") =!= col("__rep"), col("__rep"))
          .otherwise(col("__lost_to")).as("lost_to"))
  }

  /** Kept documents: (doc_id, lang_pred, quality), ascending ids. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val uniq = ExactDedup.byTextHash(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      "text", "doc_id")
    val w = words(col("text"))
    val scored = uniq.select(col("doc_id"), col("text"),
      TextStats.qualityScore(w).as("quality"),
      LangId.predictCol(w).as("lang_pred"))
    // two consumers (the LSH pass and the final anti-join) — persist so
    // the scoring+window lineage runs once, not twice (at scale: a
    // staging table; here the plan-keyed cache)
    val kept = scored.filter(
        col("quality") >= cfg.minQuality && col("lang_pred") === cfg.lang)
      .persist()
    val losers = MinHashLSH
      .nearDuplicatePairs(kept, "doc_id", "text", cfg.lsh)
      .select(col("doc_b").as("doc_id")).distinct()
    kept.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang_pred"), col("quality"))
  }

  /** The attrition funnel over [[curateAudit]]'s verdicts: one row per
    * pipeline stage with the documents and TOKENS it dropped and the
    * corpus remaining after it — the headline numbers of every curation
    * report ("near-dedup cost us 9% of tokens"), and the first place a
    * mis-ordered or over-aggressive stage shows up. Token attrition is
    * the number that matters for a training run; doc counts alone hide
    * a stage that preferentially drops long documents.
    *
    * Stage rows are a LITERAL frame (`input` + the four dropping
    * stages, in pipeline order), so the output shape is fixed even
    * when a stage drops nothing. The corpus-scale work is one
    * doc-keyed join of the audit with per-doc token counts and one
    * verdict-keyed aggregate; the funnel arithmetic (cumulative drops,
    * remainders) runs on the ≤6-row summary — the bounded frame is
    * persisted because totals and per-stage rows both read it.
    */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    funnelBy(docs, idCol, textCol, Nil, cfg)

  /** [[funnel]] broken out by grouping columns (e.g. `source`): which
    * feed loses most tokens at which stage — the report that catches a
    * single source whose crawl is 90% near-duplicates while the
    * corpus-level funnel still looks healthy. One funnel per observed
    * group value, each with the fixed stage shape; the summary is
    * groups × 5 rows and all arithmetic runs there.
    */
  def funnelBy(docs: DataFrame, idCol: String, textCol: String,
      groupCols: Seq[String], cfg: Config = Config()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val toks = docs.select(col(idCol).as("doc_id") +: gcols :+
      size(words(col(textCol))).cast("long").as("__nt"): _*)
    val byVerdict = curateAudit(docs, idCol, textCol, cfg)
      .select("doc_id", "verdict")
      .join(toks, "doc_id")
      .groupBy(gcols :+ col("verdict"): _*)
      .agg(count(lit(1)).as("__nd"), sum("__nt").as("__t"))
      .persist()
    val tot = byVerdict.groupBy(gcols: _*)
      .agg(sum("__nd").as("__tot_d"), sum("__t").as("__tot_t"))
    val spark = docs.sparkSession
    import spark.implicits._
    val stages = Seq(("input", 0), ("exact_dup", 1), ("quality", 2),
      ("language", 3), ("near_dup", 4)).toDF("stage", "stage_idx")
    // tiny frames throughout: 5 stage rows × observed groups. Every
    // group gets the full fixed stage shape even where it dropped
    // nothing (the grid is groups × stages, not observed verdicts).
    val grid =
      if (groupCols.isEmpty) stages
      else byVerdict.select(gcols: _*).distinct().crossJoin(broadcast(stages))
    // nullable-constant partition key for the ungrouped form keeps the
    // cumulative window off an explicit SinglePartition (the
    // CorpusOrder note); grouped forms partition by the group.
    val cumKeys =
      if (groupCols.isEmpty) Seq(when(col("docs_dropped") >= 0, lit(0)))
      else gcols
    val cum = Window.partitionBy(cumKeys: _*)
      .orderBy("stage_idx")
      .rowsBetween(Window.unboundedPreceding, 0)
    val joined = grid
      .join(byVerdict.withColumnRenamed("verdict", "stage"),
        groupCols :+ "stage", "left")
      .select(gcols :+ col("stage") :+ col("stage_idx") :+
        coalesce(col("__nd"), lit(0L)).as("docs_dropped") :+
        coalesce(col("__t"), lit(0L)).as("tokens_dropped"): _*)
    val withTot =
      if (groupCols.isEmpty) joined.crossJoin(broadcast(tot))
      else joined.join(broadcast(tot), groupCols)
    withTot.select(gcols :+ col("stage") :+ col("stage_idx") :+
      col("docs_dropped") :+ col("tokens_dropped") :+
      (col("__tot_d") - sum(col("docs_dropped")).over(cum)).as("docs_left") :+
      (col("__tot_t") - sum(col("tokens_dropped")).over(cum))
        .as("tokens_left"): _*)
  }
}
