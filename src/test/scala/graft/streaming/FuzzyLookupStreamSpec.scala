package graft.streaming

import graft.SparkTestSession
import graft.operators.SymDeleteJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Fuzzy lookup on a stream: [[SymDeleteJoin.resolveIndexed]] run per
  * micro-batch ([[MicroBatch.each]]) against the persisted variant
  * index equals the batch operator over each batch, and unmatched keys
  * stay absent (the new-entity path).
  */
class FuzzyLookupStreamSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("per-batch indexed lookups == batch resolve per micro-batch") {
    val clean = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("rid", "rname")
    SymDeleteJoin.writeIndex(clean, "rid", "rname", d = 1,
      "graft_flu_idx", numBuckets = 4)
    try {
      val b1 = Seq((10L, "alpha"), (11L, "alph"))
      val b2 = Seq((12L, "gamm"), (13L, "zzzzz"))
      val stream = MemoryStream[(Long, String)](spark)
      var got = Map.empty[Long, Set[Seq[Any]]]
      val q = MicroBatch.each(stream.toDF().toDF("lid", "lname")) {
        (id, b) =>
          val matches = SymDeleteJoin.resolveIndexed(spark, "graft_flu_idx",
            b, "lid", "lname", d = 1)
          got += id -> matches.collect().map(_.toSeq).toSet
      }.start()
      try {
        Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
      } finally q.stop()

      val batches = got.toSeq.sortBy(_._1).map(_._2)
      assert(batches.size === 2)
      val wantB1 = SymDeleteJoin.resolve(b1.toDF("lid", "lname"), clean,
        "lid", "lname", "rid", "rname", 1).collect().map(_.toSeq).toSet
      val wantB2 = SymDeleteJoin.resolve(b2.toDF("lid", "lname"), clean,
        "lid", "lname", "rid", "rname", 1).collect().map(_.toSeq).toSet
      assert(batches(0) === wantB1)
      assert(batches(1) === wantB2)
      // the no-candidate key takes the new-entity path (absent)
      assert(!batches(1).exists(_.head == 13L))
      assert(batches(1).exists(_.head == 12L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_flu_idx")
    }
  }
}
