package graft.text

import graft.text.TextFeatures._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stopword-profile language identification.
  *
  * The classic cheap heuristic: score each candidate language by the
  * fraction of tokens found in a tiny per-language function-word
  * lexicon; predict the argmax (ties broken by language code, `und`
  * when nothing matches). Per-row projection — zero shuffle.
  *
  * Lexicons deliberately overlap (es/fr share `la`,`de`) so the
  * tie-break path is exercised; swap in real profiles per deployment.
  */
object LangId {

  /** Candidate languages in tie-break (alphabetical) order. */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** Native one-loop membership count ([[graft.expressions.CountInSet]]
    * — the HOF `size(filter(w, isin))` evaluates interpreted, and this
    * runs once PER LANGUAGE per document); equivalence spec'd, and the
    * langid oracle re-proves it per round.
    */
  def score(w: Column, lexicon: Seq[String]): Column =
    graft.expressions.CountInSet(w, lexicon).cast("double") / size(w)

  /** Script blocks the census screens for, in tie-break (alphabetical)
    * order of their predicted codes: ar, cjk, el, ko, ru.
    */
  val ScriptCodes: Seq[(String, String)] = Seq(
    "ar" -> "n_arabic", "cjk" -> "n_cjk", "el" -> "n_greek",
    "ko" -> "n_hangul", "ru" -> "n_cyrillic")

  /** A script wins when it holds at least this share of all letters. */
  val ScriptThreshold: Double = 0.3

  /** Script-aware language id — the multilingual face [[predict]]
    * lacks: stopword lexicons are structurally blind outside Latin
    * text (CJK has no token boundaries, Cyrillic tokens never hit a
    * Latin lexicon), so a 100 TB web corpus scores `und` for whole
    * scripts. Here one native per-script letter census
    * ([[graft.expressions.ScriptCounts]] — one code-point scan, no
    * regex passes) screens first: if a named script holds ≥
    * [[ScriptThreshold]] of the letters, predict its code (ties break
    * alphabetically, matching the oracle's CASE order) with the share
    * as the score; otherwise fall through to the stopword vote over
    * Latin tokens. Still a pure per-row projection — zero shuffle.
    */
  def predictUnicode(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // stage the census and token array as ATTRIBUTES first: the share /
    // best-share / tie-break ladder below references them ~25 times,
    // and CollapseProject deliberately keeps multiply-referenced
    // non-cheap aliases staged, so each row runs ONE census scan and
    // one tokenize instead of one per reference (the §9 melt trap)
    val staged = docs.select(col(idCol).as("doc_id"),
      graft.expressions.ScriptCounts(col(textCol)).as("__sc"),
      words(col(textCol)).as("__w"))
    val sc = col("__sc")
    val letters = sc.getField("n_letters").cast("double")
    val shares = ScriptCodes.map { case (code, field) =>
      code -> when(letters > 0,
        sc.getField(field).cast("double") / letters).otherwise(lit(0.0))
    }
    val bestShare = greatest(shares.map(_._2): _*)
    val w = col("__w")
    val pred = shares.foldRight(predictCol(w)) { case ((code, s), other) =>
      when(bestShare >= ScriptThreshold && s === bestShare, lit(code))
        .otherwise(other)
    }
    val scoreCol = when(bestShare >= ScriptThreshold, bestShare)
      .otherwise(coalesce(bestScore(w), lit(0.0)))
    staged.select(col("doc_id"),
      pred.as("lang_pred"), scoreCol.as("lang_score"))
  }

  /** (id, lang_pred, lang_score) per document. */
  def predict(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      predictCol(w).as("lang_pred"), bestScore(w).as("lang_score"))
  }

  /** The predicted-language label as a composable per-row COLUMN over
    * a whitespace token array — the face operators that fold language
    * into a wider projection (fertility, curation) build on, so the
    * vote stays a single pass with no join back.
    */
  def predictCol(w: Column): Column = {
    val scores = Lexicons.map { case (lang, lex) => lang -> score(w, lex) }
    val best = greatest(scores.map(_._2): _*)
    // first-match-wins over the alphabetically ordered languages = the
    // deterministic tie-break; exactly mirrored by the oracle's CASE
    scores.foldRight(lit("und")) { case ((lang, s), other) =>
      when(best > 0 && s === best, lit(lang)).otherwise(other)
    }
  }

  /** The winning stopword-vote score (greatest across lexicons). */
  def bestScore(w: Column): Column =
    greatest(Lexicons.map { case (_, lex) => score(w, lex) }: _*)
}
