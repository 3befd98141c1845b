package graft.expressions

import graft.SparkTestSession
import graft.text.TextFeatures
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native one-pass char-n-gram expression must be bit-equivalent to
  * the HOF reference formulation ([[charShinglesHof]], the
  * shape the heavy-hitter DuckDB oracles mirror) — including multi-byte
  * UTF-8 (char-indexed, not byte-indexed, windows), the
  * shorter-than-n guard, duplicates kept in order, and null text.
  */
class CharShinglesSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** The HOF formulation [[TextFeatures.charShingles]] replaced
    * (interpreted `transform` + char-indexed `substr` — O(len²) on
    * variable-width UTF-8; guarded because `sequence(1, k)` counts DOWN
    * for k < 1).
    */
  private def charShinglesHof(text: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = {
    val t = lower(text)
    val grams = transform(
      sequence(lit(1), length(t) - (n - 1)),
      i => t.substr(i, lit(n)))
    when(length(t) >= n, grams)
      .otherwise(array().cast("array<string>"))
  }

  private def compare(texts: Seq[String], n: Int): Unit = {
    val rows = texts.toDF("t")
      .select(
        TextFeatures.charShingles(col("t"), n).as("fast"),
        charShinglesHof(col("t"), n).as("ref"))
      .collect()
    rows.zip(texts).foreach { case (r, in) =>
      assert(r.getSeq[String](0) === r.getSeq[String](1),
        s"char shingles diverge on '$in' (n=$n)")
    }
  }

  test("hand cases: unicode widths, guard edge, repeats, spaces") {
    val cases = Seq(
      "Hello World",
      "aaaaa", // every gram identical: multiplicity visible
      "ab", "abc", "abcd", // around the n=3 guard edge
      "", "x",
      "ÜmlautÉ", // 2-byte chars
      "日本語テキスト", // 3-byte chars
      "a日b本c", // mixed widths: byte-offset slicing must stay char-aligned
      "mixed 𝄞 clef", // 4-byte astral char
      "  spaces  count  ")
    Seq(1, 3, 5).foreach(n => compare(cases, n))
  }

  test("equals the HOF form on 300 random mixed-width strings") {
    val rnd = new scala.util.Random(11) // fixed seed: reproducible
    val alphabet = "abÉ日 A"
    val texts = Seq.fill(300) {
      val len = rnd.nextInt(16)
      Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    Seq(3, 4).foreach(n => compare(texts, n))
  }

  test("null text yields an empty array, matching the HOF guard") {
    val r = Seq((1, null.asInstanceOf[String])).toDF("id", "t")
      .select(
        TextFeatures.charShingles(col("t"), 4).as("fast"),
        charShinglesHof(col("t"), 4).as("ref"))
      .collect()(0)
    assert(r.getSeq[String](0) === Seq.empty)
    assert(r.getSeq[String](1) === Seq.empty)
  }
}
