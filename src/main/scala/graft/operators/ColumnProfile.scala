package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-column data-quality profile — the "what am I diffing?" companion
  * to the diff core: row/null/distinct counts and lexicographic
  * min/max per column, computed for ALL columns in ONE distributed
  * pass.
  *
  * The naive formulation is either N per-column jobs (N scans) or one
  * `agg(countDistinct(c1), countDistinct(c2), ...)` — which Catalyst
  * executes via `Expand`, multiplying every row by the number of
  * distinct aggregates (N× shuffle volume). Instead the frame is melted
  * to (col_name, value) pairs — a single inline generator, no Expand —
  * and aggregated twice: first by (col_name, value) with map-side
  * combine (the heavy reduction happens before the shuffle), then by
  * col_name over the already-distinct pairs. Shuffle volume is
  * O(distinct values), not O(rows × aggregates).
  *
  * Values are compared as strings (cast once in the melt) — consistent
  * with the diff core's string-typed comparison semantics and
  * reproducible across engines.
  */
object ColumnProfile {

  /** One row per profiled column:
    * (col_name, n_rows, n_null, n_distinct, min_val, max_val) —
    * distinct/min/max over non-null values; min/max lexicographic.
    */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame =
    melt(df, cols)
      .groupBy(col("col_name"), col("value"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("col_name"))
      .agg(
        sum(col("n")).cast("bigint").as("n_rows"),
        coalesce(sum(when(col("value").isNull, col("n"))), lit(0L))
          .cast("bigint").as("n_null"),
        count(col("value")).as("n_distinct"),
        min(col("value")).as("min_val"),
        max(col("value")).as("max_val"))

  /** (col_name, value) — one row per (row, profiled column), the value
    * cast to string; `cols` empty profiles every column. Pure-DSL melt
    * (no string-spliced SQL — column names with quotes / backticks stay
    * data, not syntax); the generator stays inline.
    */
  private[graft] def melt(df: DataFrame, cols: Seq[String]): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    require(cs.nonEmpty, "profile of zero columns")
    df.select(explode(array(cs.map(c => struct(
          lit(c).as("col_name"),
          col(s"`${c.replace("`", "``")}`").cast("string").as("value"))): _*))
        .as("p"))
      .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
  }
}
