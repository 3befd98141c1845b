package graft.diff

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The core operator: per-row / per-column diff of two DataFrames that
  * share a schema and a primary key.
  *
  * Re-expresses the reference pipeline (find_datacol_diff.py:83-161 +
  * find_dataframe_diff.py:7-23) Spark-first:
  *
  *   - full-outer equi-join on the (composite) key
  *     (reference find_datacol_diff.py:96-99) — Catalyst picks the join
  *     strategy; at scale this is the one unavoidable shuffle, handled
  *     by AQE (skew split / partition coalescing).
  *   - the diff array is built in ONE expression
  *     (`filter(array(struct-or-null per column), isNotNull)`) instead of
  *     the reference's O(columns) `withColumn` fold
  *     (find_datacol_diff.py:101-115) — constant plan depth, single
  *     Project, whole-stage-codegen friendly.
  *   - null-safe `<=>` replaces the reference's coalesce-sentinel trick
  *     (find_datacol_diff.py:103-106): NULL==NULL matches, NULL vs value
  *     differs, and there is no sentinel-collision risk. String columns
  *     were already null-blanked in [[Standardize.prepare]], so observable
  *     semantics match the reference exactly.
  *   - flag counts and per-column stats come from ONE aggregation over
  *     the cached diff instead of the reference's 6+N count() jobs
  *     (find_datacol_diff.py:136-149).
  */
object DataColDiff {

  val CompColArr = "CompColArr"
  val Flag = "Flag"

  /** Lazy diff plan: `n*2` key columns (`<pk>_s1`, `<pk>_s2`), `CompColArr`
    * and `Flag`. No jobs run. Output shape documented at
    * reference find_dataframe_diff.py:15.
    *
    * Error contract: DATA problems (schema mismatch, type mismatch,
    * case collisions) come back as `Left(SchemaMismatch)`; an invalid
    * `pks` argument is a CALLER bug and throws IllegalArgumentException.
    *
    * `skewResilient`: the default shape is ONE full-outer join — the
    * right plan when keys are (as the contract says) unique, because a
    * hash of unique keys cannot produce a hot partition. But dirty
    * inputs with a duplicated hot key DO skew it, and Spark's AQE skew
    * split cannot touch a FULL OUTER sort-merge join (neither side of
    * a full-outer partition can be replicated — verified empirically:
    * inner and left_outer get `AQEShuffleRead skewed`, full_outer gets
    * none). The resilient mode decomposes into
    * inner ∪ left-anti ∪ right-anti — all three AQE-splittable — with
    * identical results (spec-gated): ONLY-rows skip the comparison
    * projection entirely, and Catalyst column-prunes each piece, so
    * the two anti joins shuffle KEYS ONLY (~10% extra bytes over the
    * single full-outer shuffle; plan-checked in `Stress diffskew`).
    * Two practical notes from the stress: AQE splits a skewed reduce
    * partition at MAP-output granularity, so inputs read as one split
    * (single map task) cannot be split regardless of skew; and the
    * split must be allowed through a cached plan via
    * `canChangeCachedPlanOutputPartitioning=true` when the diff frame
    * is persisted. Default off: three join passes cost more plan
    * overhead on clean data; reach for it when key uniqueness is not
    * guaranteed.
    */
    /* `compareCols`: restrict the comparison to these columns (None =
    * all non-key columns; Some(Nil) is legal and compares nothing —
    * every matched row NODIFF). The 100 TB lever behind [[screenedDiffPlan]]:
    * with the array built over a pruned column set, Catalyst prunes the
    * other columns OUT OF BOTH SCANS and the join shuffles only
    * keys + compared columns. Semantics contract (spec-gated):
    * pruned diff ≡ full diff with CompColArr filtered to these columns
    * and Flag recomputed from the filtered array (a row differing only
    * in pruned-out columns reports NODIFF). Unknown or key columns in
    * `compareCols` are a CALLER bug → IllegalArgumentException.
    */
  def diffPlan(s1: DataFrame, s2: DataFrame, pks: Seq[String],
      lenient: Boolean = false, skewResilient: Boolean = false,
      compareCols: Option[Seq[String]] = None):
      Either[SchemaMismatch, DataFrame] =
    Standardize.standardize(s1, s2, lenient).map { case (d1, d2) =>
      val k0 = CompCols.derive(s1, pks)
      val k = compareCols.fold(k0) { cols =>
        // case-insensitive, like every other column reference here
        val want = cols.map(_.toLowerCase)
        val unknown = want.filterNot(k0.compCols.contains)
        require(unknown.isEmpty,
          s"compareCols not among the comparable (non-key) columns: " +
            unknown.mkString(", "))
        k0.copy(compCols = k0.compCols.filter(want.contains))
      }

      // AND-ed per-key-pair equalities (reference find_datacol_diff.py:96).
      // `===` (not `<=>`): a null key never matches, same as the reference
      // (string keys were null-blanked upstream, so this only affects
      // genuinely-null non-string keys).
      // Presence MARKERS, not key-null tests, decide which side a row
      // came from: a present row whose pk is genuinely NULL would look
      // identical to an absent side under the reference's key-null test
      // (find_datacol_diff.py:124) and get the wrong ONLY-flag.
      val m1 = d1.withColumn("__s1_present", lit(true))
      val m2 = d2.withColumn("__s2_present", lit(true))
      import Standardize.quoted
      val cond = k.s1Keys.zip(k.s2Keys)
        .map { case (a, b) => m1(quoted(a)) === m2(quoted(b)) }.reduce(_ && _)
      val joined = m1.join(m2, cond, "full_outer")
      val s1Missing = col("__s1_present").isNull
      val s2Missing = col("__s2_present").isNull

      val emptyArr = array().cast(DiffEntry.arrayType)
      // MapType isn't comparable in Spark (<=> fails analysis), so any
      // map-bearing column is compared via its to_json rendering — the
      // §7.3 normalization. Caveat: two maps with the same entries in a
      // different internal order render differently and will report as
      // a diff; callers needing order-insensitive map equality should
      // canonicalize (e.g. sort entries) upstream.
      def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types._
        dt match {
          case _: MapType => true
          case ArrayType(et, _) => containsMap(et)
          case StructType(fields) => fields.exists(f => containsMap(f.dataType))
          case _ => false
        }
      }
      val dtypes = d1.schema.fields.map(f => f.name -> f.dataType).toMap
      val entries: Seq[Column] = k.compCols.map { c =>
        val a = col(quoted(c + Standardize.S1Suffix))
        val b = col(quoted(c + Standardize.S2Suffix))
        val (ca, cb) =
          if (containsMap(dtypes(c + Standardize.S1Suffix)))
            (to_json(a), to_json(b))
          else (a, b)
        when(!(ca <=> cb), struct(
          lit(c).as("col_name"),
          ca.cast(StringType).as("s1_value"),
          cb.cast(StringType).as("s2_value")))
      }
      val rawArr =
        if (entries.isEmpty) emptyArr
        else filter(array(entries: _*), _.isNotNull)
      // Blank the array for one-side-only rows: every column "differs"
      // against an absent row, which would be noise
      // (reference rationale comment find_datacol_diff.py:119-123).
      val compArr = when(s1Missing || s2Missing, emptyArr).otherwise(rawArr)

      // Chained CASE; ONLY-flags take precedence over NODIFF
      // (reference find_datacol_diff.py:129-133).
      val flag = when(s2Missing, Flags.S1Only)
        .when(s1Missing, Flags.S2Only)
        .when(size(compArr) === 0, Flags.NoDiff)
        .otherwise(Flags.Diff)

      if (!skewResilient) {
        val outCols = (k.s1Keys ++ k.s2Keys).map(n => col(quoted(n))) ++
          Seq(compArr.as(CompColArr), flag.as(Flag))
        joined.select(outCols: _*)
      } else {
        // inner ∪ anti ∪ anti decomposition: no presence markers needed
        // (membership in a piece IS presence), ONLY-rows never run the
        // comparison array, and every join type here is AQE-skew-splittable
        val bareCond = k.s1Keys.zip(k.s2Keys)
          .map { case (a, b) => d1(quoted(a)) === d2(quoted(b)) }.reduce(_ && _)
        val innerFlag = when(size(rawArr) === 0, Flags.NoDiff)
          .otherwise(Flags.Diff)
        val innerOut = d1.join(d2, bareCond, "inner")
          .select((k.s1Keys ++ k.s2Keys).map(n => col(quoted(n))) ++
            Seq(rawArr.as(CompColArr), innerFlag.as(Flag)): _*)
        val t1 = d1.schema.fields.map(f => f.name -> f.dataType).toMap
        val t2 = d2.schema.fields.map(f => f.name -> f.dataType).toMap
        val s1OnlyOut = d1.join(d2, bareCond, "left_anti")
          .select(k.s1Keys.map(n => col(quoted(n))) ++
            k.s2Keys.map(n => lit(null).cast(t2(n)).as(n)) ++
            Seq(emptyArr.as(CompColArr), lit(Flags.S1Only).as(Flag)): _*)
        val s2OnlyOut = d2.join(d1, bareCond, "left_anti")
          .select(k.s1Keys.map(n => lit(null).cast(t1(n)).as(n)) ++
            k.s2Keys.map(n => col(quoted(n))) ++
            Seq(emptyArr.as(CompColArr), lit(Flags.S2Only).as(Flag)): _*)
        innerOut.unionByName(s1OnlyOut).unionByName(s2OnlyOut)
      }
    }

  /** The 100 TB screen→diff flow in one call: run the profile screen
    * ([[graft.operators.ProfileDiff]] — one melt-aggregate pipeline,
    * shuffle O(distinct values), no join), collect the DRIFT column
    * set (one row per column), and hand it to [[diffPlan]] as
    * `compareCols`. The expensive full-outer row diff then scans and
    * shuffles ONLY keys + drifted columns — on the common "one column
    * moved" incident that's the difference between re-shuffling two
    * whole snapshots and shuffling a key + one value. Key columns
    * always stay (they're the join), so their drift (row adds/drops)
    * is reported by the ONLY-flags as usual.
    *
    * This is a SCREEN, with the profile screen's documented blind
    * spot (spec-pinned): a change that preserves a column's row/null/
    * distinct counts AND its min/max — e.g. mutating a few mid-range
    * values distinct-to-distinct, or swapping values between rows —
    * is invisible to the profile, and the pruned diff reports NODIFF
    * where the full diff would report DIFF. Use [[diffPlan]] directly
    * when that class of change matters more than the pruning payoff.
    *
    * Runs 2 screen jobs before the diff plan is returned (the
    * profile + the one-row-per-column collect) — the point of a
    * screen; callers wanting zero eager work use [[diffPlan]]
    * directly.
    */
  def screenedDiffPlan(s1: DataFrame, s2: DataFrame, pks: Seq[String],
      lenient: Boolean = false, skewResilient: Boolean = false):
      Either[SchemaMismatch, DataFrame] = {
    import graft.operators.ProfileDiff
    val drifted = ProfileDiff.driftedColumns(ProfileDiff.compare(s1, s2))
      .map(_.toLowerCase)
    val comparable = CompCols.derive(s1, pks).compCols.toSet
    diffPlan(s1, s2, pks, lenient, skewResilient,
      compareCols = Some(drifted.filter(comparable.contains)))
  }

  /** Per-column mismatch counts, descending (ties broken by name for
    * determinism) — ONE aggregation replacing the reference's
    * N filter+count jobs (find_datacol_diff.py:146-149).
    */
  def statsPlan(diff: DataFrame): DataFrame =
    diff.select(explode(col(s"$CompColArr.col_name")).as("col_name"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("mismatch_cnt"))
      .orderBy(desc("mismatch_cnt"), asc("col_name"))

  /** Flag-class counts — ONE aggregation replacing the reference's 4
    * filter+count jobs (find_datacol_diff.py:136-139).
    */
  def flagCountsPlan(diff: DataFrame): DataFrame =
    diff.groupBy(Flag).agg(count(lit(1)).as("cnt"))

  /** Public API mirroring the reference's `compute_dataframe_diff`
    * (find_dataframe_diff.py:7-23). Persists the join, then runs ONE
    * summary action: a single aggregate over the cached diff, grouped
    * by (flag, differing column), whose ≤ 3 + N rows give both the flag
    * counts and the per-column counts on the driver. Only `diff` stays
    * persisted; call `result.diff.unpersist()` when done (the reference
    * never unpersists — find_datacol_diff.py:128). `stats` is a
    * driver-local frame: collecting it launches no job, and it outlives
    * the unpersist. Row-for-row and schema-equal to [[statsPlan]] and
    * [[flagCountsPlan]] over the same diff (spec-gated).
    */
  def computeDataframeDiff(s1: DataFrame, s2: DataFrame, pks: Seq[String],
      lenient: Boolean = false, skewResilient: Boolean = false):
      Either[SchemaMismatch, DiffResult] =
    diffPlan(s1, s2, pks, lenient, skewResilient).map { diff =>
      diff.persist()
      // one row per (flag, column): `entries` counts the column's diff
      // entries, `rows` the diff rows (each row has exactly one pos 0,
      // or one null pos when its array is empty). Only DIFF rows carry
      // entries, so each column appears in one group.
      val groups = diff
        .select(col(Flag), posexplode_outer(col(s"$CompColArr.col_name")))
        .groupBy(col(Flag), col("col"))
        .agg(count(lit(1)).as("entries"),
          count_if(coalesce(col("pos"), lit(0)) === 0).as("rows"))
        .collect()
      val fc = groups.groupMapReduce(_.getString(0))(_.getLong(3))(_ + _)
      val counts = FlagCounts(
        s1Only = fc.getOrElse(Flags.S1Only, 0L),
        s2Only = fc.getOrElse(Flags.S2Only, 0L),
        noDiff = fc.getOrElse(Flags.NoDiff, 0L),
        diff = fc.getOrElse(Flags.Diff, 0L))
      // statsPlan's order: count descending, then name in Spark's
      // (UTF-8 binary) string order
      val perCol = groups.filterNot(_.isNullAt(1))
        .sortBy(r => (-r.getLong(2), UTF8String.fromString(r.getString(1))))
        .map(r => Row(r.getString(1), r.getLong(2)))
      val stats = diff.sparkSession.createDataFrame(
        perCol.toSeq.asJava, statsPlan(diff).schema)
      DiffResult(diff, stats, counts)
    }
}
