package graft.queries

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the driver testdata layout
  * (/root/repo/TESTDATA.md): one parquet per table under the sf dir.
  */
object Tables {
  /** A schema-pinned read of `dir/name.parquet`. The schema comes from
    * [[schemaOf]]: one footer read on the driver, no Spark job. A bare
    * `spark.read.parquet` infers it with a one-task job per call
    * (~100 ms on a 4-core host, against ~1 ms for the footer read).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * without a Spark job: the footer of the path itself or of the first
    * data file a lazy walk of it meets (hidden names skipped, partition
    * directories descended), converted as Spark's inference converts one
    * file with `mergeSchema` off (the default). The walk reads one listing
    * page per level, never a full listing: the same cost on a 100 TB
    * object-store table. Partition columns come from directory names at
    * read time, as for an inferred schema. A missing path raises Spark's
    * `PATH_NOT_FOUND`, a path without data files `UNABLE_TO_INFER_SCHEMA`.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val root = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => throw new AnalysisException(
        "PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
    }
    val file = firstDataFile(fs, root).getOrElse(throw new AnalysisException(
      "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hconf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // the flags Spark's inference job passes (ParquetFileFormat
    // .mergeSchemasInParallel), not the SQLConf constructor's wider set
    val c = spark.sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = c.isParquetBinaryAsString,
        assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
        inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
        nanosAsLong = c.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          c.parquetReaderRespectUnknownTypeAnnotation))
  }

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else {
      val it = fs.listStatusIterator(st.getPath)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filterNot(f => hidden(f.getPath.getName))
        .flatMap(firstDataFile(fs, _)).nextOption()
    }

  /** Spark's file-index filter: `_`/`.`-prefixed names (`_SUCCESS`,
    * `.crc` files) except `_k=v` partition directories, and files still
    * being copied.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

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

  /** An events parquet may store `ts` as TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects (a MICROS `ts` passes through). We read nanos
    * as long (`spark.sql.legacy.parquet.nanosAsLong=true`, set in the
    * session) and truncate to microseconds with integral division (a double
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
