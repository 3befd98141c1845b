package graft.similarity

import graft.{JobCount, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Serving a query batch builds its probe set on the driver and
  * persists nothing: with a caller-held model and a local query frame,
  * [[IvfPq.topKIndexed]] and [[IvfPqTable.topK]] start no job before
  * their result is consumed; any other query frame costs one collect.
  * The persisted-RDD set is the same before and after, so a serving
  * loop leaves no cache behind per batch.
  */
class IvfPqServeJobsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 8
  private val cfg = IvfPq.Config(cells = 4, residual = true,
    pq = ProductQuant.Config(m = 2, codeK = 4, screenK = 10))

  /** Driver-local vectors. */
  private def vecs(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
        Array.tabulate(dim)(d => math.sin(i * 31 + d * 7))))
      .toDF("vec_id", "embedding")

  private def jobsOf(body: => Unit): Int = JobCount.jobs(spark)(body)

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sorted(df: DataFrame) =
    df.orderBy("q_id", "rank").collect().toSeq

  private def withDir(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("graft_ivfjobs_").toFile
    try f(d.getAbsolutePath) finally rmrf(d)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  test("topKIndexed: no job for a local query frame, one collect " +
      "otherwise, nothing persisted") {
    val table = "ivfpq_serve_jobs"
    withDir { dir =>
      try {
        val model = IvfPq.writeIndex(vecs(0 until 400), "vec_id",
          "embedding", dim, table, cfg)
        vecs(0 until 8).write.parquet(s"$dir/queries")
        val stored = spark.read.parquet(s"$dir/queries")
        val before = persisted
        var served: DataFrame = null
        assert(jobsOf {
          served = IvfPq.topKIndexed(spark, table, vecs(0 until 8),
            "vec_id", "embedding", dim, 5, cfg, Some(model))
        } === 0)
        assert(persisted === before)

        var scanned: DataFrame = null
        assert(jobsOf {
          scanned = IvfPq.topKIndexed(spark, table, stored, "vec_id",
            "embedding", dim, 5, cfg, Some(model))
        } === 1)
        assert(persisted === before)

        val rows = sorted(served)
        assert(rows.length === 40)
        assert(rows === sorted(scanned))
        assert(persisted === before)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"DROP TABLE IF EXISTS ${table}_model")
      }
    }
  }

  test("IvfPqTable.topK: no job for a local query frame, nothing " +
      "persisted") {
    withDir { dir =>
      val idx = s"$dir/idx"
      val model = IvfPqTable.create(spark, idx, vecs(0 until 400),
        "vec_id", "embedding", dim, cfg)
      val before = persisted
      var served: DataFrame = null
      assert(jobsOf {
        served = IvfPqTable.topK(spark, idx, vecs(0 until 8), "vec_id",
          "embedding", dim, 5, cfg, Some(model))
      } === 0)
      assert(persisted === before)
      assert(served.count() === 40L)
      assert(persisted === before)
    }
  }
}
