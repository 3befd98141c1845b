package graft.expressions

import graft.SparkTestSession
import graft.text.Fingerprint
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native fingerprint must equal the HOF reference chain
  * (`aggregate(transform(words, md5-prefix), fold)`) — same tokens
  * (empty tokens from consecutive/leading/trailing spaces included),
  * same 24-bit md5 prefix per token, same fold order, null in → null
  * out.
  */
class RollingFingerprintSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** The HOF formulation [[Fingerprint.rollingHash]] replaced: two
    * interpreted higher-order passes.
    */
  private def rollingHashHof(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val tokenHashes = transform(graft.text.TextFeatures.words(text),
      w => graft.text.TextFeatures.hexPrefixToLong(md5(w), 6))
    aggregate(tokenHashes, lit(0L),
      (acc, h) => (acc * 31L + h) % Fingerprint.Mod)
  }

  private def compare(texts: Seq[String]): Unit = {
    val rows = texts.toDF("t")
      .select(
        Fingerprint.rollingHash(col("t")).as("fast"),
        rollingHashHof(col("t")).as("ref"))
      .collect()
    rows.zip(texts).foreach { case (r, in) =>
      assert(r.getLong(0) === r.getLong(1), s"fingerprint diverges on '$in'")
    }
  }

  test("hand cases: order sensitivity, spacing edges, unicode, empty") {
    val texts = Seq(
      "the quick brown fox",
      "fox brown quick the", // reorder must change the value
      "", " ", "  a  b  ",
      "UPPER lower MiXeD",
      "Ümlaut café 日本語",
      "single")
    compare(texts)
    // order sensitivity: explicitly different fingerprints
    val fps = Seq("a b c", "c b a").toDF("t")
      .select(Fingerprint.rollingHash(col("t"))).collect().map(_.getLong(0))
    assert(fps(0) !== fps(1))
  }

  test("equals the HOF form on 300 random strings") {
    val rnd = new scala.util.Random(17) // fixed seed: reproducible
    val alphabet = "ab É "
    compare(Seq.fill(300)(
      Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString))
  }

  test("null text stays null") {
    val r = Seq((1, null.asInstanceOf[String])).toDF("id", "t")
      .select(Fingerprint.rollingHash(col("t")).as("fast"),
        rollingHashHof(col("t")).as("ref"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
