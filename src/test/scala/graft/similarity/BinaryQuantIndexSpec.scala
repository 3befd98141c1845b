package graft.similarity

import graft.SparkTestSession
import graft.queries.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-fingerprint-index faces: the standing (vid, code, v)
  * table must serve external query batches identically to the inline
  * operator, appends must equal indexing the union (codes depend only
  * on the compile-time planes), the screen scan must read only
  * (vid, code) by column pruning, and the streaming serve face must be
  * the batch operator per micro-batch.
  */
class BinaryQuantIndexSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private def drop(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.catalog.clearCache()
  }

  test("served index ≡ inline search; screen scan prunes to codes") {
    val table = "bq_idx"
    try {
      BinaryQuant.writeIndex(emb, "vec_id", "embedding", 64, 128, table)
      val served = BinaryQuant.topKIndexed(spark, table,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          64, 128, 120, 10)
        .orderBy("q_id", "rank")
      val direct = BinaryQuant.topKReranked(emb, "vec_id", "embedding",
          _ < 8, 64, 128, 120, 10)
        .orderBy("q_id", "rank")
      assert(served.collect().toSeq === direct.collect().toSeq)
      // the Hamming screen's index scan must NOT read the float column
      val plan = served.queryExecution.executedPlan.toString
      val codeScans = "ReadSchema: [^\\n]*code[^\\n]*".r
        .findAllIn(plan).toSeq
      assert(codeScans.nonEmpty, "expected a code-column scan:\n" + plan)
      assert(codeScans.exists(!_.contains("v:")),
        "screen scan must be pruned to (vid, code), floats excluded:\n" +
          codeScans.mkString("\n"))
    } finally drop("bq_idx")
  }

  test("append-then-search ≡ indexing the union") {
    try {
      BinaryQuant.writeIndex(emb.filter(col("vec_id") >= 50),
        "vec_id", "embedding", 64, 128, "bq_grow")
      BinaryQuant.appendIndex(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", 64, 128, "bq_grow")
      BinaryQuant.writeIndex(emb, "vec_id", "embedding", 64, 128, "bq_all")
      def rows(t: String) =
        spark.table(t).select("vid", "code").orderBy("vid").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      assert(rows("bq_grow") === rows("bq_all"))
    } finally { drop("bq_grow"); drop("bq_all") }
  }

  test("streaming serve face ≡ batch operator per micro-batch") {
    val table = "bq_serve"
    try {
      BinaryQuant.writeIndex(emb, "vec_id", "embedding", 64, 128, table)
      val queries = emb.filter(col("vec_id") < 6)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val stream = MemoryStream[(Long, Seq[Float])](spark)
      var got = Map.empty[Long, Seq[Seq[Any]]]
      val q = graft.streaming.MicroBatch.each(
          stream.toDF().toDF("vec_id", "embedding")) { (bid, b) =>
        val topk = BinaryQuant.topKIndexed(spark, table, b,
          "vec_id", "embedding", 64, 128, 120, 10)
        got += bid -> topk.orderBy("q_id", "rank").collect()
          .map(_.toSeq.toList).toSeq
      }.start()
      try {
        stream.addData(queries.take(3)); q.processAllAvailable()
        stream.addData(queries.drop(3)); q.processAllAvailable()
      } finally q.stop()
      def want(ids: Seq[Long]) = BinaryQuant.topKIndexed(spark, table,
          emb.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding",
          64, 128, 120, 10)
        .orderBy("q_id", "rank").collect().map(_.toSeq.toList).toSeq
      assert(got(0L) === want(queries.take(3).map(_._1)))
      assert(got(1L) === want(queries.drop(3).map(_._1).toSeq))
    } finally drop("bq_serve")
  }
}
