package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** Column-expression builders shared by the text-analysis, dedup and
  * similarity families.
  *
  * Everything here is a pure Catalyst expression over built-in functions
  * (no UDFs), so it stays inside whole-stage codegen and is trivially
  * distributed: per-row feature extraction has no shuffle at all.
  *
  * Cross-engine determinism (the DuckDB oracle must reproduce every
  * value bit-for-bit):
  *   - all hashing is md5-based — md5 is specified byte-exact, unlike
  *     Spark's murmur3 `hash()` / DuckDB's `hash()` which differ;
  *   - hex→integer conversion uses only digit arithmetic the oracle can
  *     mirror (`conv` here, strpos-arithmetic there);
  *   - folds over arrays are explicit left-to-right `aggregate` calls,
  *     mirrored by DuckDB `list_reduce`, so even integer mod chains
  *     evaluate in the same order.
  */
object TextFeatures {

  /** Lower-cased whitespace tokens of a text column. */
  def words(text: Column): Column = split(lower(text), " ")

  /** Distinct word n-grams ("shingles") of a token array; empty for
    * documents shorter than n tokens (guarded — Spark's `sequence(1, k)`
    * would count DOWN for k < 1).
    *
    * This is the REFERENCE formulation (the shape every DuckDB oracle
    * mirrors): a higher-order `transform`, which Spark evaluates
    * interpreted. Hot paths use [[textShingles]] — the native one-scan
    * [[graft.expressions.WordShingles]] expression, spec-proven
    * equivalent to this form — and keep this one for the equivalence
    * property and for callers holding a token array that is not
    * `words(text)`.
    */
  def wordShingles(w: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j))): _*))
    when(size(w) >= n, array_distinct(grams))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** `wordShingles(words(text), n)` as ONE codegen'd byte scan
    * ([[graft.expressions.WordShingles]]). Null text yields an empty
    * array, matching the HOF guard's `when(size(w) >= n, ...)` (null
    * size fails the predicate).
    */
  def textShingles(text: Column, n: Int): Column =
    when(text.isNotNull,
        graft.expressions.WordShingles(text, n, distinct = true))
      .otherwise(array().cast(ArrayType(StringType)))

  /** All word n-grams of a text column, duplicates KEPT in order (the
    * repetition family's signal) — the non-distinct face of
    * [[textShingles]].
    */
  def textGrams(text: Column, n: Int): Column =
    when(text.isNotNull,
        graft.expressions.WordShingles(text, n, distinct = false))
      .otherwise(array().cast(ArrayType(StringType)))

  /** ALL character n-grams (with multiplicity — unlike
    * [[wordShingles]], occurrences matter to frequency consumers) of
    * lower-cased text; empty for texts shorter than n chars and for
    * null text. Native one-pass form
    * ([[graft.expressions.CharShingles]]), spec'd against the HOF
    * reference formulation CharShinglesSpec keeps.
    */
  def charShingles(text: Column, n: Int): Column =
    when(text.isNotNull, graft.expressions.CharShingles(text, n))
      .otherwise(array().cast(ArrayType(StringType)))

  /** First `digits` hex chars of a (lowercase-hex) md5 string as a
    * non-negative long. 8 digits = 32 bits — safely inside Long.
    * The generic form for ALREADY-hex columns (e.g. persisted digest
    * strings); hashing a raw string goes through [[md5PrefixLong]],
    * which skips the hex round-trip.
    */
  def hexPrefixToLong(hex: Column, digits: Int): Column =
    conv(substring(hex, 1, digits), 16, 10).cast(LongType)

  /** `hexPrefixToLong(md5(s), digits)` as ONE native expression
    * ([[graft.expressions.Md5PrefixLong]]) — digest bytes fold straight
    * into the long, no 32-char hex string and no base-16 re-parse per
    * row. Bit-equal to the conv-chain by the expression's contract
    * (ScalaCheck'd); the oracle SQL keeps the textual conv form.
    */
  def md5PrefixLong(s: Column, digits: Int): Column =
    graft.expressions.Md5PrefixLong(s, digits)

  /** 32-bit md5-derived hash of a string column. */
  def hash32(s: Column): Column = md5PrefixLong(s, 8)

  /** Exact Jaccard similarity of two distinct-element arrays, as the
    * single double division intersect/(|a|+|b|-intersect) — one IEEE op
    * on integers, so bit-identical across engines.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b)))
  }
}
