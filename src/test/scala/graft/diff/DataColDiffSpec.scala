package graft.diff

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's test suite:
  *   - unit tests from tests/test_find_datacol_diff.py (schema
  *     standardization, mismatch path, key/comp-col derivation),
  *   - golden per-column mismatch counts from
  *     tests/test_output_level_details.py:28-34,
  * plus property tests from SURVEY.md §5 (self-diff, flag partition,
  * s1/s2 symmetry). Fixture CSVs are read in place from the read-only
  * reference checkout.
  */
class DataColDiffSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val fixtures = "/root/reference/tests/datasets"
  def readCsv(name: String): DataFrame =
    spark.read.option("header", "true").csv(s"$fixtures/$name")

  lazy val emp100 = readCsv("employee100.csv")
  lazy val emp101 = readCsv("employee101.csv")

  test("standardize: matching schemas → suffixed frames") {
    val Right((d1, d2)) = Standardize.standardize(emp100, emp101)
    assert(d1.columns.forall(_.endsWith("_s1")))
    assert(d2.columns.forall(_.endsWith("_s2")))
    assert(d1.columns.map(_.stripSuffix("_s1")).toSet ===
      emp100.columns.map(_.toLowerCase).toSet)
  }

  test("complex-typed columns diff correctly (array, struct, map via to_json)") {
    import spark.implicits._
    val s1 = Seq(
      (1L, Seq("a", "b"), (1, 2), Map("k" -> 1)),
      (2L, Seq("x"), (3, 4), Map("k" -> 2)),
      (3L, Seq.empty[String], (0, 0), Map.empty[String, Int])
    ).toDF("id", "tags", "point", "attrs")
    val s2 = Seq(
      (1L, Seq("a", "b"), (1, 2), Map("k" -> 1)),   // identical
      (2L, Seq("x", "y"), (3, 9), Map("k" -> 3)),   // all three differ
      (3L, Seq.empty[String], (0, 0), Map.empty[String, Int])
    ).toDF("id", "tags", "point", "attrs")
    val res = DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
      .fold(mm => sys.error(mm.message), identity)
    try {
      assert(res.counts === FlagCounts(0, 0, 2, 1))
      val entries = res.diff.filter(col(DataColDiff.Flag) === "")
        .select(explode(col(DataColDiff.CompColArr)).as("e"))
        .select("e.col_name", "e.s1_value", "e.s2_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      assert(entries.map(_._1).toSeq === Seq("attrs", "point", "tags"))
      val attrs = entries.find(_._1 == "attrs").get
      assert(attrs._2 === """{"k":2}""" && attrs._3 === """{"k":3}""")
    } finally res.diff.unpersist()
  }

  test("standardize lenient mode: extra s2 columns accepted and dropped") {
    import spark.implicits._
    val s1 = Seq((1L, "a")).toDF("id", "name")
    val s2extra = Seq((1L, "a", 9)).toDF("id", "name", "extra")
    // strict (default): symmetric check fails
    assert(Standardize.standardize(s1, s2extra).isLeft)
    // lenient: reference-faithful s1-s2-only check passes, extras dropped
    val Right((_, d2)) = Standardize.standardize(s1, s2extra, lenient = true)
    assert(d2.columns.toSet === Set("id_s2", "name_s2"))
    // missing s2 columns fail in BOTH modes (reference does too)
    val s2short = Seq(1L).toDF("id")
    assert(Standardize.standardize(s1, s2short, lenient = true).isLeft)
    // end-to-end: lenient diff of identical-modulo-extras tables is all NODIFF
    val res = DataColDiff.computeDataframeDiff(s1, s2extra, Seq("id"), lenient = true)
      .fold(mm => sys.error(mm.message), identity)
    try assert(res.counts === FlagCounts(0, 0, 1, 0))
    finally res.diff.unpersist()
  }

  test("standardize: mismatched schemas → SchemaMismatch") {
    val bible = readCsv("bible101.csv")
    val res = Standardize.standardize(emp100, bible)
    assert(res.isLeft)
    val Left(mm) = res
    assert(mm.s1Only.nonEmpty && mm.s2Only.nonEmpty)
  }

  test("compCols: composite key derivation (id, gender)") {
    val d = CompCols.derive(emp100, Seq("id", "gender"))
    assert(d.s1Keys === Seq("id_s1", "gender_s1"))
    assert(d.s2Keys === Seq("id_s2", "gender_s2"))
    assert(d.compCols.toSet === Set(
      "first_name", "last_name", "email", "ip_address",
      "emp_join_date", "emp_country"))
  }

  // Golden oracle: reference tests/test_output_level_details.py:28-34
  // on employee100 vs employee101, pk=["id"].
  val goldenColCounts = Map(
    "first_name" -> 83L, "last_name" -> 81L, "email" -> 81L,
    "ip_address" -> 81L, "emp_join_date" -> 81L,
    "emp_country" -> 77L, "gender" -> 49L)

  test("golden: per-column mismatch counts on employee100 vs employee101") {
    val Right(res) = DataColDiff.computeDataframeDiff(emp100, emp101, Seq("id"))
    val got = res.stats.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === goldenColCounts)
    res.diff.unpersist()
  }

  test("golden: flag partition sums to outer-join row count") {
    val Right(res) = DataColDiff.computeDataframeDiff(emp100, emp101, Seq("id"))
    assert(res.counts.total === res.diff.count())
    // employee101 has more rows than employee100 → S2_ONLY > 0
    assert(res.counts.s2Only > 0)
    res.diff.unpersist()
  }

  test("type-mismatched shared columns are Left, not silent coercion") {
    import spark.implicits._
    val s1 = Seq((1L, 1)).toDF("id", "x")          // x: int
    val s2 = Seq((1L, "01")).toDF("id", "x")       // x: string — 1 vs "01"
    val r = DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
    assert(r.isLeft)
    assert(r.left.toOption.get.typeMismatches.exists(_.startsWith("x:")))
  }

  test("case-colliding columns within one input are Left, not ambiguous refs") {
    import spark.implicits._
    val s1 = Seq((1L, "a", "b")).toDF("id", "V", "v")
    val s2 = Seq((1L, "a", "b")).toDF("id", "V", "v")
    val r = DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
    assert(r.isLeft)
    assert(r.left.toOption.get.caseCollisions === Set("v"))
  }

  test("dotted column names resolve literally") {
    import spark.implicits._
    val s1 = Seq((1L, "x")).toDF("id", "a.b")
    val s2 = Seq((1L, "y")).toDF("id", "a.b")
    val res = DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
      .fold(mm => sys.error(mm.message), identity)
    assert(res.counts === FlagCounts(0, 0, 0, 1))
    res.diff.unpersist()
  }

  test("a present row with a genuinely NULL pk gets the right ONLY-flag") {
    import spark.implicits._
    val s1 = Seq((Some(1L), "a")).toDF("id", "v")
    val s2 = Seq((Some(1L), "a"), (Option.empty[Long], "ghost")).toDF("id", "v")
    val res = DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
      .fold(mm => sys.error(mm.message), identity)
    // the null-pk s2 row never joins: it is an S2_ONLY row, and must not
    // be misread as S1_ONLY just because its own key is null
    assert(res.counts === FlagCounts(0, 1, 1, 0))
    res.diff.unpersist()
  }

  test("driver contract: SparkEntry.entry returns a nonempty flagship diff") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("edge: empty inputs produce an empty diff with zero counts") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    val one = Seq((1L, "x")).toDF("id", "v")
    val both = DataColDiff.computeDataframeDiff(empty, empty, Seq("id"))
      .fold(mm => sys.error(mm.message), identity)
    assert(both.counts === FlagCounts(0, 0, 0, 0))
    assert(both.diff.count() === 0 && both.stats.count() === 0)
    val oneSided = DataColDiff.computeDataframeDiff(one, empty, Seq("id"))
      .fold(mm => sys.error(mm.message), identity)
    assert(oneSided.counts === FlagCounts(1, 0, 0, 0))
  }

  test("summary: one SQL execution; stats is local and outlives the cache") {
    import spark.implicits._
    def counted[T](body: => T) = graft.JobCount.of(spark)(body)
    val s1 = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")).toDF("id", "u", "v")
    val s2 = Seq((1L, "a", "x"), (2L, "B", "Y"), (4L, "d", "w")).toDF("id", "u", "v")
    val (res, onDiff) = counted(DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
      .fold(mm => sys.error(mm.message), identity))
    try {
      assert(onDiff.rootExecutions === 1)
      assert(res.counts === FlagCounts(1, 1, 1, 1))
      val (rows, onStats) = counted(res.stats.collect())
      assert(onStats.jobs === 0)
      assert(rows.map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        Seq("u" -> 1L, "v" -> 1L))
      res.diff.unpersist(blocking = true)
      val (after, onStale) = counted(res.stats.collect())
      assert(after.toSeq === rows.toSeq)
      assert(onStale.jobs === 0)
    } finally res.diff.unpersist()
  }

  test("property: self-diff is all NODIFF") {
    val Right(res) = DataColDiff.computeDataframeDiff(emp100, emp100, Seq("id"))
    assert(res.counts.noDiff === emp100.count())
    assert(res.counts.s1Only === 0 && res.counts.s2Only === 0 &&
      res.counts.diff === 0)
    assert(res.stats.count() === 0)
    res.diff.unpersist()
  }

  test("property: swapping inputs swaps S1_ONLY/S2_ONLY and value sides") {
    val Right(a) = DataColDiff.computeDataframeDiff(emp100, emp101, Seq("id"))
    val Right(b) = DataColDiff.computeDataframeDiff(emp101, emp100, Seq("id"))
    assert(a.counts.s1Only === b.counts.s2Only)
    assert(a.counts.s2Only === b.counts.s1Only)
    assert(a.counts.diff === b.counts.diff)
    assert(a.counts.noDiff === b.counts.noDiff)
    // values swap sides: compare the multiset of (key, col, v1, v2)
    val av = a.diff.select(col("id_s1"), explode(col("CompColArr")).as("e"))
      .select(col("id_s1"), col("e.col_name"), col("e.s1_value"), col("e.s2_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val bv = b.diff.select(col("id_s2"), explode(col("CompColArr")).as("e"))
      .select(col("id_s2"), col("e.col_name"), col("e.s2_value"), col("e.s1_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(av === bv)
    a.diff.unpersist(); b.diff.unpersist()
  }

  test("null semantics: NULL==NULL matches; NULL vs value differs; typed cols work") {
    import spark.implicits._
    val l = Seq((1L, Some(10.5), "x"), (2L, None, "y"), (3L, Some(3.0), null))
      .toDF("k", "v", "s")
    val r = Seq((1L, Some(10.5), "x"), (2L, None, "z"), (3L, None, null))
      .toDF("k", "v", "s")
    val Right(res) = DataColDiff.computeDataframeDiff(l, r, Seq("k"))
    val byKey = res.diff.select(col("k_s1"), col("Flag"),
        col("CompColArr.col_name").as("cols"))
      .collect().map(row => row.getLong(0) ->
        (row.getString(1), row.getSeq[String](2).toSet)).toMap
    assert(byKey(1L) === (("NODIFF", Set.empty[String])))
    assert(byKey(2L) === (("", Set("s"))))      // None==None matches, y!=z
    assert(byKey(3L) === (("", Set("v"))))      // 3.0 vs NULL differs; null str == null str (filled "")
    res.diff.unpersist()
  }

  test("composite key diff") {
    val Right(res) =
      DataColDiff.computeDataframeDiff(emp100, emp101, Seq("id", "gender"))
    assert(res.counts.total === res.diff.count())
    res.diff.unpersist()
  }

  test("skew-resilient mode is row-identical to the full-outer plan") {
    import org.apache.spark.sql.functions._
    // CompColArr entry order within a row is column order — stable in
    // both modes — so a straight to_json canonicalization is comparable
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(to_json(struct(df.columns.map(col): _*)))
        .collect().map(_.getString(0)).toSet
    for (keys <- Seq(Seq("id"), Seq("id", "gender"))) {
      val Right(a) = DataColDiff.computeDataframeDiff(emp100, emp101, keys)
      val Right(b) = DataColDiff.computeDataframeDiff(emp100, emp101, keys,
        skewResilient = true)
      assert(a.counts === b.counts, s"keys=$keys")
      assert(canon(a.diff) === canon(b.diff), s"keys=$keys")
      val statsA = a.stats.collect().map(r => (r.getString(0), r.getLong(1)))
      val statsB = b.stats.collect().map(r => (r.getString(0), r.getLong(1)))
      assert(statsA.toSeq === statsB.toSeq, s"keys=$keys")
      a.diff.unpersist(); b.diff.unpersist()
    }
  }

  test("compareCols pruning ≡ full diff filtered to those columns") {
    import org.apache.spark.sql.functions._
    val keep = Seq("email", "emp_country")
    val Right(full) = DataColDiff.diffPlan(emp100, emp101, Seq("id"))
    val Right(pruned) = DataColDiff.diffPlan(emp100, emp101, Seq("id"),
      compareCols = Some(keep))
    // reference semantics: filter the full diff's array to the kept
    // columns and recompute the flag from the filtered array
    val filtArr = filter(col(DataColDiff.CompColArr),
      e => e.getField("col_name").isin(keep: _*))
    val want = full.select(col("id_s1"), col("id_s2"),
      filtArr.as(DataColDiff.CompColArr),
      when(col(DataColDiff.Flag).isin(Flags.S1Only, Flags.S2Only),
          col(DataColDiff.Flag))
        .when(size(filtArr) === 0, Flags.NoDiff)
        .otherwise(Flags.Diff).as(DataColDiff.Flag))
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(to_json(struct(df.columns.map(col): _*)))
        .collect().map(_.getString(0)).toSet
    assert(canon(pruned) === canon(want))
    // the pruned plan must actually drop the other columns from BOTH
    // scans (the whole point at scale): no unkept comparable column
    // survives in any projection above the relations (the logical
    // relation line itself always prints the file's full schema)
    val plan = pruned.queryExecution.optimizedPlan.toString.toLowerCase
    val projected = plan.linesIterator
      .filterNot(_.contains("relation")).mkString("\n")
    assert(!projected.contains("first_name"),
      s"pruned diff still carries an unkept column:\n$plan")
    // Some(Nil) is the provably-identical screen verdict: no DIFF rows
    val Right(none) = DataColDiff.diffPlan(emp100, emp101, Seq("id"),
      compareCols = Some(Nil))
    assert(!none.select(DataColDiff.Flag).collect()
      .map(_.getString(0)).contains(Flags.Diff))
    // unknown / key columns are caller bugs
    assertThrows[IllegalArgumentException](DataColDiff.diffPlan(
      emp100, emp101, Seq("id"), compareCols = Some(Seq("id"))))
    assertThrows[IllegalArgumentException](DataColDiff.diffPlan(
      emp100, emp101, Seq("id"), compareCols = Some(Seq("nope"))))
  }

  test("screenedDiffPlan: profile screen prunes, results match the full diff") {
    import org.apache.spark.sql.functions._
    // perturb ONE comparable column in a way the profile SEES (every
    // value moves, so min/max shift); the screen must prune to it and
    // the screened diff must equal the full diff (the only moving
    // column IS the compared one)
    val s2 = emp100.withColumn("email", concat(col("email"), lit("x")))
    val Right(screened) = DataColDiff.screenedDiffPlan(emp100, s2, Seq("id"))
    val Right(full) = DataColDiff.diffPlan(emp100, s2, Seq("id"))
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(to_json(struct(df.columns.map(col): _*)))
        .collect().map(_.getString(0)).toSet
    assert(canon(screened) === canon(full))
    val plan = screened.queryExecution.optimizedPlan.toString.toLowerCase
    val projected = plan.linesIterator
      .filterNot(_.contains("relation")).mkString("\n")
    assert(!projected.contains("first_name"),
      s"screened diff must not read undrifted columns:\n$plan")
    // the screen's documented blind spot: a perturbation preserving
    // row/null/distinct counts AND the min/max (e.g. mutating a few
    // mid-range values distinct-to-distinct) passes the profile
    // unseen — the screened diff then reports NODIFF where the full
    // diff reports DIFF. That is the price of screening; the spec pins
    // the behavior so it stays a documented trade, not a surprise.
    val sneaky = emp100.withColumn("email",
      when(col("id").cast("long") === 50L,
        concat(col("email"), lit("x"))).otherwise(col("email")))
    val Right(missed) = DataColDiff.screenedDiffPlan(emp100, sneaky, Seq("id"))
    assert(!missed.select(DataColDiff.Flag).collect()
      .map(_.getString(0)).contains(Flags.Diff))
  }

  test("skew-resilient mode handles duplicate (dirty) keys like full-outer") {
    import spark.implicits._
    // key 7 duplicated on BOTH sides: full-outer degenerates to a per-key
    // cross product — resilient mode must reproduce exactly that
    val s1 = Seq((7L, "a"), (7L, "b"), (1L, "x"), (2L, "y"))
      .toDF("id", "v")
    val s2 = Seq((7L, "a"), (7L, "c"), (1L, "x"), (3L, "z"))
      .toDF("id", "v")
    val Right(a) = DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
    val Right(b) = DataColDiff.computeDataframeDiff(s1, s2, Seq("id"),
      skewResilient = true)
    assert(a.counts === b.counts)
    assert(a.counts.total === 7) // 4 cross rows for key 7 + 1 + 1 + 1
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.select(to_json(struct(col("id_s1"), col("id_s2"),
        col(DataColDiff.CompColArr), col(DataColDiff.Flag))))
        .collect().map(_.getString(0)).sorted.toSeq
    assert(rows(a.diff) === rows(b.diff))
    a.diff.unpersist(); b.diff.unpersist()
  }
}
