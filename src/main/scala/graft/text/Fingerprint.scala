package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document fingerprinting via a rolling polynomial hash.
  *
  * fp(doc) = foldLeft over tokens of (acc * 31 + h(token)) mod P, with
  * h(token) the first 24 bits of md5(token). Order-sensitive (unlike a
  * set hash): reordered documents get different fingerprints, which is
  * the property a training-data lineage/dedup pipeline wants from a
  * content fingerprint. Pure per-row fold — zero shuffle.
  *
  * The fold is an explicit left-to-right `aggregate`, mirrored by
  * DuckDB's `list_reduce`, and all arithmetic stays below 2^35 so both
  * engines compute identical BIGINT chains.
  */
object Fingerprint {

  val Mod = 1000000007L

  /** Native one-pass form ([[graft.expressions.RollingFingerprint]]),
    * spec'd against the HOF reference formulation RollingFingerprintSpec
    * keeps; the DuckDB oracle keeps the `list_reduce` shape, re-proving
    * the equivalence per round.
    */
  def rollingHash(text: Column): Column =
    graft.expressions.RollingFingerprint(text, Mod)

  /** (id, fingerprint) per document. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      rollingHash(col(textCol)).as("fingerprint"))
}
