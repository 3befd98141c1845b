package graft.similarity

import graft.{JobCount, SparkTestSession}
import graft.queries.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lloyd's training launches one seed collect plus one RDD pass per
  * refinement round, however many codebooks train together: the job
  * counts below pin that, so a trainer can never grow an extra pass.
  */
class TrainJobsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private def jobsOf(body: => Unit): Int = JobCount.jobs(spark)(body)

  /** IvfPq's persisted prep, materialized before counting. */
  private def withPrep(cfg: IvfPq.Config)(body: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val prep = IvfPq.prepare(emb, "vec_id", "embedding", cfg).persist()
    try {
      prep.count()
      body(prep)
    } finally prep.unpersist(blocking = true)
  }

  // coarse and PQ books run different round counts, so the shared
  // loop's per-round book selection is exercised
  private val ivfCfg = IvfPq.Config(cells = 4, coarseIters = 3,
    pq = ProductQuant.Config(m = 8, codeK = 8, iters = 2))

  test("IvfPq global training: one seed collect + one pass per round") {
    withPrep(ivfCfg) { prep =>
      // seed collect + rounds 2..3 (coarse and PQ share round 2)
      assert(jobsOf(IvfPq.fitModel(prep, 64, ivfCfg)) === 3)
    }
  }

  test("IvfPq residual training: coarse rounds, then PQ rounds") {
    val cfg = ivfCfg.copy(residual = true)
    withPrep(cfg) { prep =>
      // seed collect + 2 coarse rounds + 1 PQ round over the residuals
      assert(jobsOf(IvfPq.fitModel(prep, 64, cfg)) === 4)
    }
  }

  test("ProductQuant.train: one seed collect + one pass per round") {
    val cfg = ProductQuant.Config(m = 8, codeK = 8, iters = 3)
    // the persisted prep materializes inside the seed collect
    assert(jobsOf(ProductQuant.train(emb, "vec_id", "embedding", 64,
      cfg)) === 3)
  }

  test("KMeans.centroids: one seed collect + one pass per round") {
    val cfg = KMeans.Config(k = 6, iters = 4)
    assert(jobsOf(KMeans.centroids(emb, "vec_id", "embedding", cfg)) === 4)
  }

  /** The persisted RDD ids after `body` equal those before it. */
  private def leavesNothingPersisted(body: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("KMeans.fit releases its training prep") {
    leavesNothingPersisted(
      KMeans.fit(emb, "vec_id", "embedding", KMeans.Config(k = 6)).count())
  }

  test("IvfPq.topK releases its training prep") {
    leavesNothingPersisted(IvfPq.topK(emb, "vec_id", "embedding", 64,
      _ < 4, 5, ivfCfg).count())
  }
}
