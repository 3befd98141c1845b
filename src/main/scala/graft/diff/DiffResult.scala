package graft.diff

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** One differing column on one row.
  *
  * Mirrors the struct the reference builds per differing column
  * (reference: find_datacol_diff.py:108-112 — `struct(lit(c).alias
  * ("col_name"), col(c+"_s1").cast(string).alias("s1_value"), ...)`).
  */
case class DiffEntry(col_name: String, s1_value: String, s2_value: String)

object DiffEntry {
  /** Explicit element type for the CompColArr column, so empty-array
    * literals are typed (reference relies on implicit NullType coercion
    * of `fx.array()`, find_datacol_diff.py:99 — fragile; we pin it).
    */
  val structType: StructType = StructType(Seq(
    StructField("col_name", StringType, nullable = false),
    StructField("s1_value", StringType, nullable = true),
    StructField("s2_value", StringType, nullable = true)))
  val arrayType: ArrayType = ArrayType(structType, containsNull = false)
}

/** Row-classification flags (reference: find_datacol_diff.py:129-133).
  * DIFF is the reference's empty-string flag for rows present on both
  * sides with at least one differing column.
  */
object Flags {
  val S1Only = "S1_ONLY"
  val S2Only = "S2_ONLY"
  val NoDiff = "NODIFF"
  val Diff   = ""
}

/** Counts per flag class (reference logs these via 4 separate count()
  * actions, find_datacol_diff.py:136-144; we compute them in ONE pass).
  */
case class FlagCounts(s1Only: Long, s2Only: Long, noDiff: Long, diff: Long) {
  def total: Long = s1Only + s2Only + noDiff + diff
}

/** Result of a dataframe diff.
  *
  * @param diff  one row per (outer-joined) key: both sides' key columns
  *              (suffixed `_s1`/`_s2`), `CompColArr`
  *              (array&lt;struct&lt;col_name,s1_value,s2_value&gt;&gt;) and `Flag`.
  *              The only persisted frame: release it with
  *              `diff.unpersist()`.
  * @param stats per-column mismatch counts, descending — the reference
  *              returns this as a pandas DataFrame
  *              (find_datacol_diff.py:146-153). A driver-local frame
  *              (≤ one row per compared column) built from the same
  *              summary action as `counts`: collecting it launches no
  *              job, and it stays valid after `diff` is unpersisted.
  */
case class DiffResult(diff: DataFrame, stats: DataFrame, counts: FlagCounts)

/** Schema-mismatch error (the reference sys.exit(1)s on this path,
  * find_datacol_diff.py:55-56 + find_dataframe_diff.py:18-21; we surface
  * it as a value instead).
  *
  * @param typeMismatches shared column names whose TYPES differ
  *                       (rendered "name: s1Type vs s2Type")
  * @param caseCollisions lower-cased names carried by more than one
  *                       column of the same input (e.g. `Id` and `id`) —
  *                       ambiguous under the engine's case-insensitive
  *                       matching
  */
case class SchemaMismatch(s1Only: Set[String], s2Only: Set[String],
    typeMismatches: Seq[String] = Nil,
    caseCollisions: Set[String] = Set.empty) {
  def message: String =
    s"schemas differ: only-in-s1=${s1Only.toSeq.sorted.mkString(",")} " +
      s"only-in-s2=${s2Only.toSeq.sorted.mkString(",")}" +
      (if (typeMismatches.nonEmpty)
        s" type-mismatch=${typeMismatches.mkString(",")}" else "") +
      (if (caseCollisions.nonEmpty)
        s" case-collisions=${caseCollisions.toSeq.sorted.mkString(",")}" else "")
}
