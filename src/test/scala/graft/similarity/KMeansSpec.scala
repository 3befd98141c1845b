package graft.similarity

import graft.SparkTestSession
import graft.queries.Tables
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** New centroids from an assignment: exact integer sums per
    * (cluster, position), means taken in ONE double division each,
    * empty clusters absent — the aggregate-path reference the
    * [[KMeans.refinePass]] equality test checks against.
    */
  private def recompute(asg: org.apache.spark.sql.DataFrame)
      : Seq[KMeans.Centroid] = {
    import org.apache.spark.sql.functions._
    val rows = asg
      .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cid, rs) =>
      val cv = rs.sortBy(_.getInt(1)).map(r => r.getDouble(2) / r.getLong(3))
        .toArray
      KMeans.Centroid(cid, cv, KMeans.leftFoldSq(cv))
    }
  }

  /** Clean-room single-threaded Lloyd's with the operator's declared
    * policies (floor-quantize, smallest-id seeds, (dist, cid) argmin,
    * drop-empty), written as plain loops — the distributed result must
    * equal it exactly.
    */
  private def naive(vecs: Seq[(Long, Seq[Float])], k: Int, iters: Int,
      scale: Double): Map[Long, (Long, Double)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale)).toArray
    }.toMap
    def sq(a: Array[Double], b: Array[Double]): Double = {
      def fold(x: Array[Double], y: Array[Double]) = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }; acc
      }
      fold(a, a) + fold(b, b) - 2.0 * fold(a, b)
    }
    var cents: Seq[(Long, Array[Double])] =
      vecs.map(_._1).sorted.take(k).map(id => id -> q(id))
    def assign(): Map[Long, (Long, Double)] = q.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (c, sq(v, cv)) }
        .minBy { case (c, d) => (d, c) }
    }
    var asg = assign()
    for (_ <- 2 to iters) {
      cents = asg.groupBy(_._2._1).toSeq.sortBy(_._1).map { case (cid, m) =>
        val members = m.keys.toSeq.map(q)
        val dim = members.head.length
        cid -> Array.tabulate(dim)(i => members.map(_(i)).sum / members.size)
      }
      asg = assign()
    }
    asg
  }

  test("distributed fit equals the naive single-threaded Lloyd's exactly") {
    val data = (0L until 40L).map { i =>
      val base = (i % 4).toFloat * 3f
      (i, Seq(base + (i % 7).toFloat * 0.01f, base - (i % 5).toFloat * 0.02f,
        (i % 3).toFloat * 0.5f))
    }
    val cfg = KMeans.Config(k = 4, iters = 3)
    val got = KMeans.fit(data.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cfg)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val want = naive(data, cfg.k, cfg.iters, cfg.scale)
    assert(got === want)
  }

  test("result is invariant to input partitioning") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cfg = KMeans.Config(k = 4, iters = 2)
    def run(parts: Int) =
      KMeans.fit(emb.repartition(parts), "vec_id", "embedding", cfg)
        .orderBy("vec_id").collect().toSeq
    assert(run(1) === run(13))
  }

  test("duplicate seed ties break low and the emptied cluster is dropped") {
    // seeds 0 and 1 are identical points: every tie goes to cid 0, so
    // cluster 1 is empty after the first assignment and must vanish
    // (not resurrect) across the remaining iterations
    val data = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(0f, 0f)), (2L, Seq(5f, 5f)),
      (3L, Seq(0.1f, 0f)), (4L, Seq(5f, 5.1f)))
    val out = KMeans.fit(data.toDF("vec_id", "embedding"), "vec_id",
        "embedding", KMeans.Config(k = 3, iters = 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.values.toSet === Set(0L, 2L))
    assert(out(1L) === 0L)
    assert(out(3L) === 0L && out(4L) === 2L)
  }

  test("k=1 labels everything with the single seed") {
    val data = Seq((7L, Seq(1f, 2f)), (8L, Seq(3f, 4f)), (9L, Seq(5f, 6f)))
    val out = KMeans.fit(data.toDF("vec_id", "embedding"), "vec_id",
        "embedding", KMeans.Config(k = 1, iters = 2))
      .collect().map(_.getLong(1)).toSet
    assert(out === Set(7L))
  }

  test("trained centroids are the exact member means in quantized space") {
    val data = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(10f, 10f)),
      (3L, Seq(0f, 1f)), (4L, Seq(11f, 10f)))
    val cfg = KMeans.Config(k = 2, iters = 2)
    val cents = KMeans.centroids(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", cfg)
    val s = cfg.scale
    // `centroids` returns the set the FINAL assignment pass would use:
    // one refinement of the seed assignment, where cluster 0 = {0, 3}
    // (vector 3 is nearer seed 0) and cluster 1 = {1, 2, 4}
    assert(cents.map(_.cid) === Seq(0L, 1L))
    assert(cents(0).cv.toSeq === Seq(0.0, s / 2.0))
    assert(cents(1).cv.toSeq === Seq(22.0 * s / 3.0, 20.0 * s / 3.0))
  }

  test("k=64 codebook (4,096 centroid literals) compiles and labels sanely") {
    // the upper end of the coarse-codebook regime the Config documents:
    // 64 centroids × 64 dims of plan literals must still codegen and
    // produce a full, deterministic labeling
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cfg = KMeans.Config(k = 64, iters = 2)
    val out = KMeans.fit(emb, "vec_id", "embedding", cfg)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length === emb.count())
    val clusters = out.map(_._2).toSet
    assert(clusters.size > 32 && clusters.forall(c => c >= 0 && c < 64))
    // seeds label themselves (a seed is at distance 0 from its own
    // centroid only in iteration 1, but must still be IN a cluster)
    assert(out.toMap.keySet.intersect((0L until 64L).toSet).size === 64)
  }

  test("trained centroids feed IVF and beat the stride quantizer's recall") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val k = 10
    val exact = BruteForceKNN.topK(emb, "vec_id", "embedding", _ < 8, k)
    def recallOf(ivf: org.apache.spark.sql.DataFrame): Double = {
      val per = Recall.atK(exact, ivf, k).collect()
      per.map(_.getDouble(1)).sum / per.length
    }
    val stride = recallOf(
      IVFIndex.topK(emb, "vec_id", "embedding", _ < 8, k))
    val cents = IVFIndex.fromKMeans(emb,
      KMeans.centroids(emb, "vec_id", "embedding", KMeans.Config(k = 8)))
    val trained = recallOf(IVFIndex.topKWithCentroids(
      emb, "vec_id", "embedding", _ < 8, k, cents))
    assert(trained >= stride,
      s"trained-codebook recall $trained fell below stride recall $stride")
  }

  test("RDD refinement pass equals the aggregate reference bit-for-bit (full + slice views)") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4217)
    val dim = 8
    val sub = 4
    val data = (0L until 300L).map(i =>
      (i, Seq.fill(dim)(rnd.nextFloat() * 4f - 2f)))
    val cfg = KMeans.Config(k = 5, iters = 2)
    val prep = KMeans.quantize(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", cfg).persist()
    val cents = KMeans.fromSeedRows(KMeans.seedRows(prep, cfg.k))
    def bits(cs: Seq[KMeans.Centroid]): Seq[(Long, Seq[Long], Long)] =
      cs.map(c => (c.cid,
        c.cv.toSeq.map(java.lang.Double.doubleToLongBits),
        java.lang.Double.doubleToLongBits(c.cn)))

    // full-vector view vs the aggregate-path reference (recompute)
    val viaPass = KMeans.centroidsFromPass(
      KMeans.refinePass(prep, Seq(KMeans.viewOf(0, 0, full = true, cents))), 0)
    val viaAgg = recompute(KMeans.assign(prep, cents))
    assert(bits(viaPass) === bits(viaAgg))

    // slice views vs the aggregate reference (the pre-r17 ProductQuant
    // round, replicated verbatim: staged label array below posexplode,
    // (pos, label) sums)
    val m = dim / sub
    val books = (0 until m).map { s =>
      cents.map { c =>
        val cv = c.cv.slice(s * sub, (s + 1) * sub)
        KMeans.Centroid(c.cid, cv, KMeans.leftFoldSq(cv))
      }
    }
    val pass = KMeans.refinePass(prep, (0 until m).map(s =>
      KMeans.viewOf(s, s * sub, full = false, books(s))))
    def qs(s: Int) = slice(col("q"), s * sub + 1, sub)
    def qns(s: Int) =
      graft.expressions.DotProduct(qs(s), qs(s))
    val labels = array((0 until m).map { s =>
      KMeans.bestStruct(books(s), qs(s), qns(s)).getField("c")
    }: _*)
    val rows = prep
      .select(col("q"), labels.as("ls"))
      .select(col("ls"), posexplode(col("q")).as(Seq("pos", "x")))
      .select(col("pos"),
        element_at(col("ls"), (col("pos") / lit(sub)).cast("int") + 1)
          .as("cl"),
        col("x"))
      .groupBy("pos", "cl")
      .agg(sum("x").as("sm"), count(lit(1)).as("n"))
      .collect()
    val refBooks = (0 until m).map { s =>
      rows.filter(_.getInt(0) / sub == s)
        .groupBy(_.getLong(1)).toSeq.sortBy(_._1)
        .map { case (cid, rs) =>
          val cv = rs.sortBy(_.getInt(0)).map(r =>
            r.getDouble(2) / r.getLong(3)).toArray
          KMeans.Centroid(cid, cv, KMeans.leftFoldSq(cv))
        }
    }
    (0 until m).foreach { s =>
      assert(bits(KMeans.centroidsFromPass(pass, s)) === bits(refBooks(s)),
        s"subspace $s diverged")
    }
    prep.unpersist(blocking = true)
  }
}
