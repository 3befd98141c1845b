package graft.dedup

import graft.text.TextFeatures._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection.
  *
  * Each document gets a `bits`-wide signature: bit k is the sign of
  * Σ_shingles (±1), +1 when bit k of the shingle's 32-bit hash is set.
  * Similar documents share most shingles, so their signatures differ in
  * few bits; near-dup search becomes hamming distance ≤ d.
  *
  * Scale shapes:
  *   - the signature is ONE native one-pass expression over each
  *     document's shingle array ([[graft.expressions.SimHashSig]]):
  *     md5 still runs once per shingle, but the 32 ±1 counters fold in
  *     a local array instead of a posting-level hash aggregate — no
  *     explode, no exchange (r16; the old aggregate form shuffled one
  *     32-column row per doc and probed a hash map per posting). The
  *     32-folds-over-a-transform form remains the trap it always was
  *     (CollapseProject re-inlines the md5 transform into all 32
  *     folds, measured 30×); ONE expression consumed by ONE explode
  *     sidesteps it, exactly like [[graft.expressions.MinHashBands]].
  *   - pairing uses byte banding ([[bytePairs]], which
  *     [[graft.multimodal.MediaDedup]]'s 64-bit perceptual hashes share),
  *     EXACT for the default d=3: 3 differing bits can touch at most 3
  *     of the 4 signature bytes, so by pigeonhole every pair within
  *     distance 3 shares at least one full byte — the self-join on
  *     (byte_id, byte_val) misses nothing and never goes all-pairs.
  */
object SimHash {

  val Bits = 32
  val BandBytes = 4

  /** (doc_id, simhash) frame for a text column. The explode of the
    * 1-element signature array drops empty-shingle docs — exactly the
    * docs the exploded-postings aggregate produced no row for.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.expressions.SimHashSig(
        textShingles(col(textCol), shingleSize))).as("simhash"))

  /** Pairs (doc_a < doc_b) with hamming(simhash) <= maxDistance, found
    * via byte banding (exact for maxDistance <= BandBytes-1).
    */
  def nearDuplicatePairs(signatures: DataFrame, maxDistance: Int = 3): DataFrame =
    bytePairs(signatures, "simhash", BandBytes, maxDistance)

  /** The hamming byte-band join: (doc_a, doc_b, hamming, c_a, c_b for
    * each `carry` column c) over every pair of `hashes` rows with
    * doc_a < doc_b and at most `maxDistance` differing bits among the
    * low `bytes` bytes of the long column `hash`. Each row explodes
    * into its `bytes` (byte_id, byte_val) bands and rows join on an
    * equal band: `maxDistance` < `bytes` differing bits leave at least
    * one byte whole, so by pigeonhole the join misses no pair, and it
    * is keyed on hash bytes, never all-pairs. Bytes are masked with
    * `& 255`: a 64-bit hash with bit 63 set shifts to a negative value,
    * whose `% 256` would be negative on one side of a pair only.
    */
  private[graft] def bytePairs(hashes: DataFrame, hash: String, bytes: Int,
      maxDistance: Int, carry: String*): DataFrame = {
    require(maxDistance >= 0 && maxDistance < bytes,
      s"byte banding is only exact for distance < $bytes")
    val banded = hashes.select(col("doc_id") +: col(hash) +: carry.map(col) :+
      posexplode(array((0 until bytes).map(j =>
        shiftright(col(hash), 8 * j).bitwiseAND(lit(255L))): _*))
        .as(Seq("byte_id", "byte_val")): _*)
    banded.as("a").join(banded.as("b"),
        col("a.byte_id") === col("b.byte_id") &&
          col("a.byte_val") === col("b.byte_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
        bit_count(col(s"a.$hash").bitwiseXOR(col(s"b.$hash"))).as("hamming") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"),
          col(s"b.$c").as(s"${c}_b"))): _*)
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }
}
