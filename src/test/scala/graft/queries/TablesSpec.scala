package graft.queries

import graft.{JobCount, SparkTestSession}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` reads its schema from one parquet footer on the driver:
  * the same schema a bare `spark.read.parquet` infers, no Spark job, and
  * the same errors on a missing or data-less path.
  */
class TablesSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val sfTables = new java.io.File(sf).list().toSeq.sorted
    .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_").toFile
    try f(dir.getAbsolutePath)
    finally rmrf(dir)
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def assertInferred(dir: String, name: String): Unit =
    assert(Tables.load(spark, dir, name).schema ===
      spark.read.parquet(s"$dir/$name.parquet").schema, name)

  /** The four written layouts: one file per table, a multi-file
    * directory, a `partitionBy` directory and an empty-DataFrame write.
    */
  private def writeLayouts(dir: String): Seq[String] = {
    val df = spark.range(200).select(col("id"),
      (col("id") % 3).as("k"), concat(lit("r"), col("id")).as("s"),
      (col("id") / 7.0).as("d"))
    write(df.repartition(4), dir, "multi")
    df.write.partitionBy("k").parquet(s"$dir/parted.parquet")
    write(df.limit(0), dir, "empty")
    Seq("multi", "parted", "empty")
  }

  test("every sf0.001 table loads with the schema a bare read infers") {
    assert(sfTables.nonEmpty)
    sfTables.foreach(assertInferred(sf, _))
  }

  test("a TIMESTAMP(NANOS) column loads as long under the session's nanosAsLong") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    withDir { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val conf = spark.sessionState.newHadoopConf()
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet/part-0.parquet"), conf))
        .withType(schema).withConf(conf).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("ts", 1700000000123456789L))
      finally w.close()
      assertInferred(dir, "events")
      assert(Tables.load(spark, dir, "events").schema("ts").dataType === LongType)
      assert(Tables.loadEvents(spark, dir).head().getAs[Any]("ts") ===
        java.time.LocalDateTime.of(2023, 11, 14, 22, 13, 20, 123456000))
    }
  }

  test("multi-file, partitioned and empty writes load with the inferred schema") {
    withDir { dir =>
      val names = writeLayouts(dir)
      assert(new java.io.File(s"$dir/multi.parquet").list()
        .count(_.endsWith(".parquet")) > 1)
      names.foreach(assertInferred(dir, _))
      val parted = Tables.load(spark, dir, "parted")
      assert(parted.schema("k").dataType ===
        spark.read.parquet(s"$dir/parted.parquet").schema("k").dataType)
      assert(parted.where(col("k") === 1).count() ===
        spark.range(200).where(col("id") % 3 === 1).count())
    }
  }

  test("Tables.load starts no Spark job") {
    withDir { dir =>
      val names = writeLayouts(dir)
      assert(JobCount.jobs(spark) {
        sfTables.foreach(Tables.load(spark, sf, _))
        names.foreach(Tables.load(spark, dir, _))
        Tables.loadEvents(spark, sf)
      } === 0)
    }
  }

  test("a path rewritten with a new schema loads with the new schema") {
    withDir { dir =>
      write(spark.range(5).select(col("id"), lit("a").as("s")), dir, "t")
      assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq ===
        Seq("id", "s"))
      val b = spark.range(5).select(col("id").cast("int").as("n"),
        (col("id") * 1.5).as("x"), lit(true).as("flag"))
      write(b, dir, "t")
      val again = Tables.load(spark, dir, "t")
      assert(again.schema === spark.read.parquet(s"$dir/t.parquet").schema)
      assert(again.schema.fieldNames.toSeq === Seq("n", "x", "flag"))
      assert(again.count() === 5)
    }
  }

  test("a missing path and a data-less directory raise Spark's errors") {
    withDir { dir =>
      def sameError(name: String, condition: String): Unit = {
        val ours = intercept[AnalysisException](Tables.load(spark, dir, name))
        val inferred = intercept[AnalysisException](
          spark.read.parquet(s"$dir/$name.parquet"))
        assert(ours.getCondition === condition)
        assert(ours.getMessage === inferred.getMessage)
      }
      sameError("absent", "PATH_NOT_FOUND")
      val bare = new java.io.File(s"$dir/bare.parquet")
      assert(bare.mkdir() && new java.io.File(bare, "_SUCCESS").createNewFile())
      sameError("bare", "UNABLE_TO_INFER_SCHEMA")
    }
  }
}
