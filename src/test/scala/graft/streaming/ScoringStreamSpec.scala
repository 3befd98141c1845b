package graft.streaming

import graft.SparkTestSession
import graft.operators.RecordLinkage
import graft.similarity.KMeans
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming faces added with the round's training-side operators:
  * frozen-codebook k-means labeling as a native stateless streaming
  * projection, and the record-linkage ingest screen as a foreachBatch
  * lift of the verified batch operator.
  */
class ScoringStreamSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("kmeans label: streamed micro-batches == batch labeling, bit-exact") {
    val train = (0L until 30L).map { i =>
      (i, Seq((i % 3).toFloat * 2f, 1f - (i % 5).toFloat * 0.1f))
    }
    val cfg = KMeans.Config(k = 3, iters = 2)
    val cents = KMeans.centroids(train.toDF("vec_id", "embedding"),
      "vec_id", "embedding", cfg)

    val fresh = (100L until 120L).map { i =>
      (i, Seq((i % 4).toFloat * 1.5f, (i % 7).toFloat * 0.2f))
    }
    val stream = MemoryStream[(Long, Seq[Float])](spark)
    // the SAME definition runs on the unbounded frame — no foreachBatch
    val q = KMeans.label(stream.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, cfg)
      .writeStream.format("memory").queryName("km_labels")
      .outputMode("append").start()
    try {
      fresh.grouped(7).foreach { g => stream.addData(g); q.processAllAvailable() }
    } finally q.stop()

    val streamed = spark.table("km_labels").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = KMeans.label(fresh.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.size === fresh.size)
  }

  test("linkage screen: per-batch verdicts == batch resolve of each slice") {
    val reference = Seq((10L, "alpha", 1), (11L, "beta", 1), (20L, "gamma", 2))
      .toDF("rid", "rtxt", "blk")
    val b1 = Seq((1L, "alpa", 1), (2L, "betta", 1))   // both match in blk 1
    val b2 = Seq((3L, "gamXa", 2), (4L, "zzzzz", 2))  // 4 has no candidate

    val stream = MemoryStream[(Long, String, Int)](spark)
    var got = Map.empty[Long, Seq[(Long, Long, Int)]]
    val q = MicroBatch.each(stream.toDF().toDF("id", "txt", "blk")) {
      (bid, b) =>
        val m = RecordLinkage.resolve(b, reference, Seq("blk"), "id", "txt",
          "rid", "rtxt")
        got += bid -> m.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    }.start()
    try {
      Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()

    assert(got.keySet === Set(0L, 1L))
    assert(got(0L).toSet === Set((1L, 10L, 1), (2L, 11L, 1)))
    assert(got(1L).toSet === Set((3L, 20L, 1))) // 4 routed to new-entity
    // and each batch equals the batch operator applied to that slice
    val direct = RecordLinkage.resolve(b2.toDF("id", "txt", "blk"),
        reference, Seq("blk"), "id", "txt", "rid", "rtxt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got(1L).toSet === direct)
  }
}
