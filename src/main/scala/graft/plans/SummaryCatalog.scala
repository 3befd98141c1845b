package graft.plans

import graft.queries.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import scala.collection.concurrent.TrieMap

/** Registry of materialized aggregate summaries — the engine's
  * materialized-view layer. A summary is a small parquet table holding
  * per-key partial aggregates of a large base table; once registered,
  * [[SummaryRewrite]] transparently routes matching aggregate queries
  * over the BASE table to the summary — users keep writing the
  * straightforward query, the optimizer serves it from the rollup
  * (the Calcite/warehouse MV-routing feature, scoped to exact
  * aggregate containment).
  *
  * Exactness contract (what keeps rewritten answers HASH-identical,
  * not just close): every measure must be re-aggregation-exact —
  * counts, integral/decimal sums, min/max. A raw DOUBLE sum is
  * order-dependent, so re-summing per-key partials can differ in the
  * last ulp from the direct sum; [[register]] refuses such a measure
  * rather than silently changing answers (the caller casts to decimal
  * first — the engine's established money-sum discipline).
  */
object SummaryCatalog {

  /** One aggregate the summary can serve. `cast` mirrors the cast the
    * query applies INSIDE the aggregate (`sum(cast(x as decimal))`).
    */
  final case class Measure(op: String, baseCol: String,
      cast: Option[DataType] = None) {
    require(Set("sum", "count", "min", "max")(op), s"unsupported op $op")
    def summaryCol: String =
      if (op == "count") "cnt" else s"${op}_$baseCol"
  }

  final case class Summary(basePath: String, summaryPath: String,
      keys: Seq[String], measures: Seq[Measure])

  private val registry = TrieMap.empty[String, Summary]

  private[plans] def normalize(path: String): String =
    new java.io.File(path.stripPrefix("file:")).getAbsolutePath

  /** Validating registration. Reads the summary parquet's schema so a
    * castless `sum` measure over a floating column cannot slip in via
    * direct registration (the restore-from-disk path): re-summing a
    * summary column is exact iff that column is integral or decimal.
    * A cast measure must cast to decimal. Either way the exactness
    * contract is enforced at EVERY entry point, not just [[build]].
    */
  def register(spark: SparkSession, s: Summary): Unit = {
    lazy val sumSchema = Tables.schemaOf(spark, s.summaryPath)
    s.measures.foreach { m =>
      import org.apache.spark.sql.types._
      val exact = m.op != "sum" || (m.cast match {
        case Some(t) => t.isInstanceOf[DecimalType]
        case None =>
          sumSchema.fields.find(_.name == m.summaryCol).exists(
            _.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case _: DecimalType => true
              case _ => false
            })
      })
      require(exact, s"measure $m is not re-aggregation-exact")
    }
    registry.put(normalize(s.basePath), s)
  }

  def lookup(basePath: String): Option[Summary] =
    registry.get(normalize(basePath))

  def clear(): Unit = registry.clear()

  /** Compute the summary from the base parquet, write it, register
    * it. The build is the engine's standard map-side-combined
    * aggregate — ONE shuffle of per-key partials; at 100 TB this is
    * the nightly rollup job whose output then serves every dashboard
    * aggregate at summary (not base) scan cost.
    */
  def build(spark: SparkSession, basePath: String, summaryPath: String,
      keys: Seq[String], measures: Seq[Measure]): Summary = {
    require(keys.nonEmpty, "summary needs at least one key")
    require(measures.nonEmpty, "summary needs at least one measure")
    val base = spark.read.parquet(basePath)
    def input(m: Measure) =
      m.cast.fold(col(m.baseCol))(t => col(m.baseCol).cast(t))
    measures.filter(m => m.op == "sum" && m.cast.isEmpty).foreach { m =>
      import org.apache.spark.sql.types._
      val exact = base.schema(m.baseCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _: DecimalType => true
        case _ => false
      }
      require(exact,
        s"sum(${m.baseCol}: ${base.schema(m.baseCol).dataType}) is not " +
          "re-aggregation-exact — cast to decimal in the measure (the " +
          "money-sum discipline)")
    }
    val aggs = measures.map {
      case m if m.op == "count" => count(lit(1)).as(m.summaryCol)
      case m if m.op == "sum" => sum(input(m)).as(m.summaryCol)
      case m if m.op == "min" => min(input(m)).as(m.summaryCol)
      case m => max(input(m)).as(m.summaryCol)
    }
    // Suspend routing for this base during the build: if the base is
    // already registered (a REBUILD), SummaryRewrite would route this
    // very groupBy (keys+measures match by construction) to the
    // summary parquet the overwrite below is about to delete —
    // optimization happens after the analysis-time overlap check, so
    // nothing else catches the read-own-output hazard.
    // Same suspension discipline as append(): hold the displaced
    // registration and restore it if the rebuild throws, so a failed
    // overwrite doesn't silently disable routing for a previously
    // valid summary — UNLESS the displaced summary lives at the very
    // path the failed overwrite targeted: mode("overwrite") deletes
    // the old parquet before writing, so after a failed rebuild that
    // path holds a destroyed/partial table and restoring its
    // registration would route matching aggregates to garbage where
    // the unrouted base-table scan is correct. In that case the base
    // stays unregistered (queries fall back to the base scan) and the
    // rebuild failure propagates to the caller.
    val displaced = registry.remove(normalize(basePath))
    val s =
      try {
        base.groupBy(keys.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          .write.mode("overwrite").parquet(summaryPath)
        val built = Summary(basePath, summaryPath, keys, measures)
        register(spark, built)
        Some(built)
      } finally {
        if (registry.get(normalize(basePath)).isEmpty)
          displaced
            .filter(r => normalize(r.summaryPath) != normalize(summaryPath))
            .foreach(r => registry.put(normalize(r.basePath), r))
      }
    s.get
  }

  /** Incremental refresh: fold a BATCH of new base rows into the
    * standing summary without re-scanning the base table — the
    * [[graft.operators.AggMerge]] discipline applied to the MV layer
    * (count/sum partials merge by sum, min/max by min/max — each
    * exact for the types the catalog admits, so append-then-route ≡
    * rebuild-then-route row-for-row, spec-gated). The standing table
    * is `localCheckpoint`ed before the overwrite so the write may
    * read its own previous generation (the Bm25.appendToIndex
    * lineage-cut discipline); re-aggregated columns cast back to the
    * standing schema so the table's types never widen generation
    * over generation.
    */
  def append(spark: SparkSession, s: Summary, batch: org.apache.spark.sql.DataFrame): Unit = {
    // Same routing suspension as build(): if `batch` is a bare scan of
    // the registered base, SummaryRewrite would route batchAgg to the
    // summary parquet this write is about to overwrite. Optimization
    // of the whole job happens inside the write action below, so
    // removing the registration here covers batchAgg's planning too;
    // restored after the write completes.
    val registered = registry.remove(normalize(s.basePath))
    try {
      appendImpl(spark, s, batch)
    } finally registered.foreach(r => registry.put(normalize(r.basePath), r))
  }

  private def appendImpl(spark: SparkSession, s: Summary,
      batch: org.apache.spark.sql.DataFrame): Unit = {
    def input(m: Measure) =
      m.cast.fold(col(m.baseCol))(t => col(m.baseCol).cast(t))
    val aggs = s.measures.map {
      case m if m.op == "count" => count(lit(1)).as(m.summaryCol)
      case m if m.op == "sum" => sum(input(m)).as(m.summaryCol)
      case m if m.op == "min" => min(input(m)).as(m.summaryCol)
      case m => max(input(m)).as(m.summaryCol)
    }
    val batchAgg = batch.groupBy(s.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val standing = spark.read.parquet(s.summaryPath).localCheckpoint()
    val standingTypes = standing.schema.fields.map(f => f.name -> f.dataType).toMap
    val reAggs = s.measures.map { m =>
      val c = col(m.summaryCol)
      val merged = m.op match {
        case "count" | "sum" => sum(c)
        case "min" => min(c)
        case _ => max(c)
      }
      merged.cast(standingTypes(m.summaryCol)).as(m.summaryCol)
    }
    standing
      .unionByName(batchAgg.select(standing.columns.map(col): _*))
      .groupBy(s.keys.map(col): _*)
      .agg(reAggs.head, reAggs.tail: _*)
      .write.mode("overwrite").parquet(s.summaryPath)
  }
}
