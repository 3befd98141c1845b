package graft.similarity

import graft.SparkTestSession
import graft.queries.Tables
import org.scalatest.funsuite.AnyFunSuite

class IvfPqSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("IVFADC: k rows per query, exact cosines, no self matches") {
    val out = IvfPq.topK(emb, "vec_id", "embedding", 64, _ < 8, 10)
      .orderBy("q_id", "rank").collect()
    // exhaustive scoring within probed cells: every query fills its k
    // as long as its probed cells hold >= screenK members (true here)
    assert(out.length === 80)
    val brute = BruteForceKNN.topK(emb, "vec_id", "embedding", _ < 8, 1000)
      .select("q_id", "n_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(r.getLong(2) != r.getLong(0), "self match")
      // reported cosine is the EXACT float cosine (re-rank contract):
      // bit-identical to the brute-force score of the same pair
      assert(brute(key) === r.getDouble(3))
    }
  }

  test("fused trainer produces the sequential trainer's exact Model") {
    // the one-job-per-round fused path (global encoding) must be
    // BIT-identical — same argmins, same integer sums, same means
    import org.apache.spark.sql.functions._
    val cfg = IvfPq.Config(cells = 4, coarseIters = 3,
      pq = ProductQuant.Config(m = 8, codeK = 8, iters = 2))
    val prep = emb
      .select(col("vec_id").cast("long").as("vid"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("q", transform(col("v"),
        x => floor(x * lit(cfg.pq.kmCfg.scale)).cast("double")))
      .withColumn("qn", graft.expressions.DotProduct(col("q"), col("q")))
      .persist()
    val fused = IvfPq.fitModel(prep, 64, cfg)
    val seq = IvfPq.Model(KMeans.centroidsPrepared(prep, cfg.coarseCfg),
      ProductQuant.trainPrepared(prep, 64, cfg.pq))
    prep.unpersist(blocking = false)
    def flat(m: IvfPq.Model): Seq[(Long, Seq[Double], Double)] =
      (m.coarse ++ m.books.flatten).map(c => (c.cid, c.cv.toSeq, c.cn))
    assert(flat(fused) === flat(seq))
  }

  test("CentroidDistMap is bit-equal to the literal distance formulation") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val cents = (0 until 7).map { i =>
      val cv = Array.fill(16)(math.floor(rnd.nextDouble() * 100))
      KMeans.Centroid(i.toLong * 3, cv, KMeans.leftFoldSq(cv))
    }
    import spark.implicits._
    val vecs = (1 to 50)
      .map(i => (i.toLong, Seq.fill(16)(math.floor(rnd.nextDouble() * 100))))
      .toDF("vid", "q")
      .withColumn("q", col("q").cast("array<double>"))
      .withColumn("qn", graft.expressions.DotProduct(col("q"), col("q")))
    val literal = map_from_arrays(
      array(cents.map(c => lit(c.cid)): _*),
      array(cents.map { c =>
        col("qn") + lit(c.cn) - lit(2.0) *
          graft.expressions.DotProduct(col("q"),
            array(c.cv.map(lit).toSeq: _*))
      }: _*))
    val native = graft.expressions.CentroidDistMap(col("q"), col("qn"),
      cents.map(_.cid), cents.map(_.cn), cents.map(_.cv))
    val rows = vecs.select(literal.as("l"), native.as("n")).collect()
    rows.foreach { r =>
      val l = r.getMap[Long, Double](0)
      val n = r.getMap[Long, Double](1)
      assert(l.keySet === n.keySet)
      l.keysIterator.foreach { k =>
        assert(java.lang.Double.doubleToRawLongBits(l(k)) ===
          java.lang.Double.doubleToRawLongBits(n(k)), s"cid $k")
      }
    }
    // null contracts: null vector/norm and dim mismatch -> null map
    val bad = Seq((Seq(1.0, 2.0), 5.0)).toDF("q", "qn")
      .withColumn("q", col("q").cast("array<double>"))
      .select(graft.expressions.CentroidDistMap(col("q"), col("qn"),
        cents.map(_.cid), cents.map(_.cn), cents.map(_.cv)).as("m"))
      .collect()
    assert(bad.head.isNullAt(0))
  }

  test("IVFADC recall@10 vs brute force clears the documented floor") {
    val k = 10
    val exact = BruteForceKNN.topK(emb, "vec_id", "embedding", _ < 8, k)
    val got = IvfPq.topK(emb, "vec_id", "embedding", 64, _ < 8, k)
    val per = Recall.atK(exact, got, k).collect()
    val mean = per.map(_.getDouble(1)).sum / per.length
    // global-code (non-residual) ADC + 2-of-8 probed cells: measured
    // 0.66 on this corpus; floor pinned below to catch regressions
    // without chasing noise
    assert(per.length === 8)
    assert(mean >= 0.5, f"mean recall@10 $mean%.3f under the 0.5 floor")
  }

  test("residual IVFADC: exact cosines and recall not below global codes") {
    val k = 10
    val cfg = IvfPq.Config(residual = true)
    val out = IvfPq.topK(emb, "vec_id", "embedding", 64, _ < 8, k, cfg)
      .orderBy("q_id", "rank").collect()
    assert(out.length === 80)
    val brute = BruteForceKNN.topK(emb, "vec_id", "embedding", _ < 8, 1000)
      .select("q_id", "n_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      assert(r.getLong(2) != r.getLong(0), "self match")
      assert(brute((r.getLong(0), r.getLong(2))) === r.getDouble(3))
    }
    val exact = BruteForceKNN.topK(emb, "vec_id", "embedding", _ < 8, k)
    def meanRecall(c: IvfPq.Config): Double = {
      val got = IvfPq.topK(emb, "vec_id", "embedding", 64, _ < 8, k, c)
      val per = Recall.atK(exact, got, k).collect()
      per.map(_.getDouble(1)).sum / per.length
    }
    val resid = meanRecall(cfg)
    val global = meanRecall(IvfPq.Config())
    info(f"recall@10: residual $resid%.3f vs global $global%.3f")
    // this corpus is near-uniform random (no planted cluster
    // structure, SURVEY §2.10 D5 note), so coarse centroids sit near
    // the global mean and residuals barely shrink the coded
    // distribution: measured 0.61 residual vs 0.63 global — parity
    // within noise. The clustered-corpus test below is where the
    // encoding's advantage is real; here we pin the same 0.5 floor as
    // the global variant.
    assert(resid >= 0.5, f"residual recall $resid%.3f under the 0.5 floor")
  }

  test("residual codes beat global codes on a clustered corpus") {
    // 8 tight clusters around well-separated centers — the regime
    // residual encoding exists for: within a probed cell the global
    // codes spend their 16 centroids/subspace spanning ALL cluster
    // regions, while residual codes spend them on the noise ball
    // around the cell's centroid. Deterministic seed; ids round-robin
    // over clusters so seeds (smallest ids) cover every cluster.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(8, dim)(rnd.nextDouble() * 2 - 1)
    val rows = (0L until 512L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => (x + rnd.nextDouble() * 0.1 - 0.05).toFloat).toSeq)
    }
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val k = 10
    val exact = BruteForceKNN.topK(df, "vec_id", "embedding", _ < 8, k)
    def meanRecall(c: IvfPq.Config): Double = {
      val got = IvfPq.topK(df, "vec_id", "embedding", dim, _ < 8, k, c)
      val per = Recall.atK(exact, got, k).collect()
      per.map(_.getDouble(1)).sum / per.length
    }
    val resid = meanRecall(IvfPq.Config(residual = true))
    val global = meanRecall(IvfPq.Config())
    info(f"clustered recall@10: residual $resid%.3f vs global $global%.3f")
    assert(resid > global,
      f"residual $resid%.3f not above global $global%.3f on clustered data")
  }
}
