package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver testdata layout
  * (/root/repo/TESTDATA.md): one parquet per table under the sf dir.
  */
object Tables {
  /** Parquet schemas, memoized per path for the life of the JVM — the
    * catalog discipline: a production query reads its table's schema
    * from the metastore/manifest once, it does not re-infer it from
    * data-file footers on every query. Bare-path `spark.read.parquet`
    * re-infers per call, and that inference measures 70–100 ms against
    * ~10 ms for a schema-pinned read (round 17, sf0.1 read probe) — a
    * pure driver-side fixed cost paid by every query × rep in the
    * harness, and a footer-listing cost that only grows with file
    * count at scale. Metadata only (never row data); the harness's
    * input dirs are immutable for a JVM's lifetime, which is what
    * makes the memo sound.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Load + round-robin repartition to the session's parallelism.
    *
    * The testdata tables are single parquet files small enough to be
    * ONE input split, which would serialize every downstream per-row
    * computation onto one core — fatal for the CPU-heavy operators
    * (shingling, hashing, embedding folds). At production scale the
    * file-split count provides this parallelism for free and the
    * repartition would be a pure waste, so this is a harness-side
    * choice in the query wrappers, NOT baked into the operators.
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name)
      .repartition(spark.sparkContext.defaultParallelism)

  /** The events parquet stores `ts` as TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects. We read nanos as long
    * (`spark.sql.legacy.parquet.nanosAsLong=true`, set in the session)
    * and truncate to microseconds with integral division (a double
    * division would lose precision above 2^53 ns). DuckDB truncates
    * nanos→micros the same way, so the oracle lines up.
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case _ => raw
    }
  }
}
