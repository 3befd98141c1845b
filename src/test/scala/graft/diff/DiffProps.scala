package graft.diff

import graft.SparkTestSession
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import scala.jdk.CollectionConverters._

/** Property-based invariants of the diff core over random tables:
  * random null densities, mixed types (string/int/double), overlapping
  * key sets and random perturbations — the input space the
  * example-based golden tests can't sweep.
  */
object DiffProps extends Properties("DataColDiff") {

  // each property materializes several Spark jobs; 8 random cases per
  // property keeps the suite O(30s) while still sweeping nulls/overlaps
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  case class Rec(id: Long, name: Option[String], qty: Option[Int],
      price: Option[Double])

  private val genFields: Gen[(Option[String], Option[Int], Option[Double])] =
    for {
      name <- Gen.option(Gen.oneOf("x", "y", "zz", ""))
      qty <- Gen.option(Gen.choose(0, 5))
      price <- Gen.option(Gen.oneOf(1.5, 2.5, 3.5))
    } yield (name, qty, price)

  /** Two tables over one universe of keys: overlapping subsets, with
    * s2's rows randomly re-generated (≈ random cell edits).
    */
  private val genTables: Gen[(Seq[Rec], Seq[Rec])] = for {
    n <- Gen.choose(1, 25)
    base <- Gen.listOfN(n, genFields)
    edits <- Gen.listOfN(n, genFields)
    editMask <- Gen.listOfN(n, Gen.prob(0.3))
    inS1 <- Gen.listOfN(n, Gen.prob(0.8))
    inS2 <- Gen.listOfN(n, Gen.prob(0.8))
  } yield {
    val recs = base.zipWithIndex.map { case ((a, b, c), i) => Rec(i.toLong, a, b, c) }
    val s2recs = recs.lazyZip(edits).lazyZip(editMask).map {
      case (r, (a, b, c), true) => Rec(r.id, a, b, c)
      case (r, _, false) => r
    }
    (recs.zip(inS1).collect { case (r, true) => r },
      s2recs.zip(inS2).collect { case (r, true) => r })
  }

  private def diffOf(s1: Seq[Rec], s2: Seq[Rec],
      skewResilient: Boolean = false): DiffResult = {
    import spark.implicits._
    DataColDiff.computeDataframeDiff(s1.toDF(), s2.toDF(), Seq("id"),
        skewResilient = skewResilient)
      .fold(mm => sys.error(mm.message), identity)
  }

  private def withResult(s1: Seq[Rec], s2: Seq[Rec])(f: DiffResult => Prop): Prop = {
    val res = diffOf(s1, s2)
    try f(res) finally res.diff.unpersist()
  }

  property("self-diff is all NODIFF") = forAll(genTables) { case (s1, _) =>
    withResult(s1, s1) { res =>
      (res.counts.noDiff == s1.size) :| s"counts=${res.counts}" &&
        (res.counts.s1Only == 0 && res.counts.s2Only == 0 && res.counts.diff == 0)
    }
  }

  property("flag classes partition the key universe") =
    forAll(genTables) { case (s1, s2) =>
      withResult(s1, s2) { res =>
        val k1 = s1.map(_.id).toSet
        val k2 = s2.map(_.id).toSet
        (res.counts.s1Only == (k1 diff k2).size) :| "s1_only" &&
          (res.counts.s2Only == (k2 diff k1).size) :| "s2_only" &&
          (res.counts.noDiff + res.counts.diff == (k1 intersect k2).size) :| "matched" &&
          (res.counts.total == (k1 union k2).size) :| "total"
      }
    }

  property("swapping inputs swaps sides") = forAll(genTables) { case (s1, s2) =>
    val fwd = diffOf(s1, s2)
    val bwd = diffOf(s2, s1)
    try {
      val flagsSwap = fwd.counts.s1Only == bwd.counts.s2Only &&
        fwd.counts.s2Only == bwd.counts.s1Only &&
        fwd.counts.noDiff == bwd.counts.noDiff &&
        fwd.counts.diff == bwd.counts.diff
      val fwdStats = fwd.stats.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val bwdStats = bwd.stats.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      flagsSwap :| s"fwd=${fwd.counts} bwd=${bwd.counts}" &&
        (fwdStats == bwdStats) :| "per-column stats symmetric"
    } finally { fwd.diff.unpersist(); bwd.diff.unpersist() }
  }

  /** The one-pass summary against the reference formulation over the
    * same cached diff: `stats` row-for-row (in order) and schema-equal
    * to `statsPlan`, `counts` equal to `flagCountsPlan`'s classes, in
    * both join shapes.
    */
  private def summaryMatchesPlans(s1: Seq[Rec], s2: Seq[Rec]): Prop =
    Prop.all(Seq(false, true).map { skew =>
      val res = diffOf(s1, s2, skew)
      try {
        val want = DataColDiff.statsPlan(res.diff)
        val fc = DataColDiff.flagCountsPlan(res.diff).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val counts = Map(Flags.S1Only -> res.counts.s1Only,
          Flags.S2Only -> res.counts.s2Only, Flags.NoDiff -> res.counts.noDiff,
          Flags.Diff -> res.counts.diff).filter(_._2 > 0)
        (res.stats.collect().toSeq == want.collect().toSeq) :|
          s"skew=$skew stats rows" &&
          (res.stats.schema == want.schema) :|
            s"skew=$skew schema ${res.stats.schema} vs ${want.schema}" &&
          (counts == fc) :| s"skew=$skew counts ${res.counts} vs $fc"
      } finally res.diff.unpersist()
    }: _*)

  property("one-pass summary ≡ statsPlan + flagCountsPlan") =
    forAll(genTables) { case (s1, s2) => summaryMatchesPlans(s1, s2) }

  property("one-pass summary: empty and one-sided inputs, empty stats") = Prop.delay {
    val one = Seq(Rec(1L, Some("x"), Some(1), None), Rec(2L, None, None, None))
    Prop.all(
      summaryMatchesPlans(Nil, Nil),
      summaryMatchesPlans(one, Nil),
      summaryMatchesPlans(Nil, one),
      Prop.all(Seq(false, true).map { skew =>
        val res = diffOf(one, Nil, skew)
        try (res.stats.collect().isEmpty && res.counts == FlagCounts(2, 0, 0, 0)) :|
          s"skew=$skew counts=${res.counts}"
        finally res.diff.unpersist()
      }: _*))
  }

  // --- random-SCHEMA tables with COMPOSITE keys -----------------------

  private val colPool: Seq[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Seq("s_col" -> StringType, "i_col" -> IntegerType,
      "d_col" -> DoubleType, "t_col" -> StringType, "l_col" -> LongType)
  }

  private def randomValue(dt: org.apache.spark.sql.types.DataType,
      seed: Int): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Seq("x", "y", "", "zz")(math.abs(seed) % 4)
      case IntegerType => seed % 7
      case LongType => (seed % 11).toLong
      case DoubleType => Seq(1.5, 2.5, 3.5)(math.abs(seed) % 3)
    }
  }

  /** Random schema (2-5 value columns from the pool), composite key
    * (k1, k2), random null mask and random cell edits for s2.
    */
  private val genSchemaTables: Gen[(org.apache.spark.sql.types.StructType,
      Seq[Seq[Any]], Seq[Seq[Any]])] = for {
    nCols <- Gen.choose(2, colPool.size)
    cols <- Gen.pick(nCols, colPool)
    n <- Gen.choose(1, 15)
    seeds <- Gen.listOfN(n * cols.size, Gen.choose(-100, 100))
    nullMask <- Gen.listOfN(n * cols.size, Gen.prob(0.2))
    editSeeds <- Gen.listOfN(n * cols.size, Gen.choose(-100, 100))
    editMask <- Gen.listOfN(n * cols.size, Gen.prob(0.25))
  } yield {
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("k1", LongType) +: StructField("k2", StringType) +:
        cols.map { case (cn, dt) => StructField(cn, dt) }.toSeq)
    def cell(i: Int, j: Int, edited: Boolean): Any = {
      val idx = i * cols.size + j
      if (nullMask(idx)) null
      else randomValue(cols(j)._2,
        if (edited && editMask(idx)) editSeeds(idx) else seeds(idx))
    }
    def rows(edited: Boolean): Seq[Seq[Any]] = (0 until n).map { i =>
      (i.toLong +: s"g${i % 3}" +:
        (0 until cols.size).map(j => cell(i, j, edited))).toSeq
    }
    (schema, rows(false), rows(true))
  }

  private def toDf(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[Seq[Any]]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        rows.map(r => org.apache.spark.sql.Row.fromSeq(r))
          .asJava.asInstanceOf[java.util.Collection[org.apache.spark.sql.Row]]),
      schema)

  property("random schemas + composite keys: self-diff all NODIFF") =
    forAll(genSchemaTables) { case (schema, rows, _) =>
      val df = toDf(schema, rows)
      val res = DataColDiff.computeDataframeDiff(df, df, Seq("k1", "k2"))
        .fold(mm => sys.error(mm.message), identity)
      try (res.counts.noDiff == rows.size &&
        res.counts.s1Only == 0 && res.counts.s2Only == 0 &&
        res.counts.diff == 0) :| s"counts=${res.counts} schema=$schema"
      finally res.diff.unpersist()
    }

  property("random schemas + composite keys: edits detected, keys matched") =
    forAll(genSchemaTables) { case (schema, rows, edited) =>
      val res = DataColDiff.computeDataframeDiff(
          toDf(schema, rows), toDf(schema, edited), Seq("k1", "k2"))
        .fold(mm => sys.error(mm.message), identity)
      try {
        // identical composite key sets -> no one-sided rows
        val keysMatch = res.counts.s1Only == 0 && res.counts.s2Only == 0
        // string "" vs null compare EQUAL (reference fillna semantics),
        // so recompute the expected diff count under that rule
        val strIdx = schema.fields.zipWithIndex
          .filter(_._1.dataType == org.apache.spark.sql.types.StringType)
          .map(_._2).toSet
        def norm(row: Seq[Any]): Seq[Any] = row.zipWithIndex.map {
          case (null, i) if strIdx(i) => ""
          case (v, _) => v
        }
        val expectedDiff = rows.zip(edited)
          .count { case (a, b) => norm(a) != norm(b) }
        val total = res.counts.noDiff + res.counts.diff == rows.size
        keysMatch :| "no one-sided rows" &&
          total :| "matched row partition" &&
          (res.counts.diff == expectedDiff) :|
            s"diff=${res.counts.diff} expected=$expectedDiff"
      } finally res.diff.unpersist()
    }

  property("every reported entry is a genuine difference") =
    forAll(genTables) { case (s1, s2) =>
      withResult(s1, s2) { res =>
        import org.apache.spark.sql.functions._
        val entries = res.diff
          .select(explode(col(DataColDiff.CompColArr)).as("e"))
          .select(col("e.col_name"), col("e.s1_value"), col("e.s2_value"))
          .collect()
        val allDiffer = entries.forall { r =>
          val (a, b) = (Option(r.getString(1)), Option(r.getString(2)))
          a != b
        }
        val validCols = entries.forall(r =>
          Set("name", "qty", "price").contains(r.getString(0)))
        allDiffer :| "s1_value != s2_value (null-safe)" &&
          validCols :| "col_name is a comparison column"
      }
    }

  // ---- adversarial column names: dots, spaces, backticks, mixed case ----

  private val weirdNames = Seq(
    "a.b", "A B", "c-d", "UPPER", "mixedCase", "we`ird", "tab\tname", "x")

  private val genWeirdSchema: Gen[(Seq[String], Int)] = for {
    n <- Gen.choose(1, 4)
    names <- Gen.pick(n, weirdNames)
    rows <- Gen.choose(1, 10)
  } yield (names.toSeq, rows)

  property("weird column names: full pipeline works, self-diff all NODIFF") =
    forAll(genWeirdSchema) { case (names, nRows) =>
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        names.map(n => StructField(n, StringType, nullable = true)))
      val rows = (0 until nRows).map(i =>
        Row.fromSeq(i.toLong +: names.map(n => s"$n-$i")))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), schema)
      val res = DataColDiff.computeDataframeDiff(df, df, Seq("id"))
        .fold(mm => sys.error(mm.message), identity)
      try (res.counts == FlagCounts(0, 0, nRows.toLong, 0)) :|
        s"counts=${res.counts} names=$names"
      finally res.diff.unpersist()
    }
}
