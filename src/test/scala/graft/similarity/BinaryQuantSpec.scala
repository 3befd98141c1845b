package graft.similarity

import graft.SparkTestSession
import graft.queries.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BinaryQuantSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  /** The `bits`-subtree formulation [[BinaryQuant.packWords]] replaced:
    * one dot + when per plane, MSB first within each word.
    */
  private def packWordsLiteral(vec: org.apache.spark.sql.Column,
      planes: Seq[IndexedSeq[Double]]): org.apache.spark.sql.Column = {
    val wb = BinaryQuant.WordBits
    array((0 until planes.size / wb).map { w =>
      (0 until wb).map { j =>
        when(Cosine.dot(vec, typedLit(planes(w * wb + j))) > 0,
          lit(1L << (wb - 1 - j))).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Left-fold dot in DotProduct's exact order. */
  private def foldDot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }

  /** Driver-side replay of the pack contract: bit j of word w set iff
    * vec · plane(w·32+j) > 0, MSB first.
    */
  private def packRef(v: Seq[Float],
      planes: Seq[IndexedSeq[Double]]): Seq[Long] =
    planes.grouped(BinaryQuant.WordBits).map { group =>
      group.zipWithIndex.map { case (pl, j) =>
        if (foldDot(v.map(_.toDouble), pl) > 0)
          1L << (BinaryQuant.WordBits - 1 - j)
        else 0L
      }.sum
    }.toSeq

  test("packWords == driver replay on seeded random vectors") {
    val dim = 64
    val pl = BinaryQuant.planes(64, dim)
    val rnd = new scala.util.Random(1234)
    val rows = (0 until 64).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val got = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        BinaryQuant.packWords(col("embedding"), pl).as("code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) === packRef(v, pl))
      assert(got(id).forall(w => w >= 0L && w < (1L << 32)))
    }
  }

  test("fused SignPackWords ≡ the literal dot/when formulation") {
    val dim = 64
    val pl = BinaryQuant.planes(128, dim)
    val rnd = new scala.util.Random(4321)
    val rows = (0 until 64).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val both = df.select(col("vec_id"),
        BinaryQuant.packWords(col("embedding"), pl).as("fused"),
        packWordsLiteral(col("embedding"), pl).as("lit"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"vec ${r.getLong(0)}")
    }
  }

  test("SignPackWords null contract: mismatched dim and null element") {
    val pl = BinaryQuant.planes(32, 4)
    val out = Seq(
      (0L, Seq(1f, 2f, 3f, 4f)),     // ok
      (1L, Seq(1f, 2f, 3f)))         // wrong dim
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        BinaryQuant.packWords(col("embedding"), pl).as("code"))
      .orderBy("vec_id").collect()
    assert(!out(0).isNullAt(1))
    assert(out(1).isNullAt(1))
  }

  test("hamming == popcount of the fingerprint xor") {
    val dim = 64
    val pl = BinaryQuant.planes(64, dim)
    val rnd = new scala.util.Random(99)
    val pairs = Seq.fill(32)(
      (Seq.fill(dim)(rnd.nextFloat() * 2f - 1f),
        Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val got = pairs.toDF("a", "b")
      .select(BinaryQuant.hamming(
        BinaryQuant.packWords(col("a"), pl),
        BinaryQuant.packWords(col("b"), pl), 2))
      .collect().map(_.getLong(0)).toSeq
    val want = pairs.map { case (a, b) =>
      packRef(a, pl).zip(packRef(b, pl))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum.toLong
    }
    assert(got === want)
  }

  test("candidates = corpus reproduces brute force exactly") {
    val n = emb.count().toInt
    val exact = BruteForceKNN.topK(emb, "vec_id", "embedding", _ < 3, 5)
      .select("q_id", "rank", "n_id", "cos_sim")
      .orderBy("q_id", "rank").collect().toSeq
    val bq = BinaryQuant.topKReranked(emb, "vec_id", "embedding", _ < 3,
        dim = 64, bits = 64, candidates = n, k = 5)
      .select("q_id", "rank", "n_id", "cos_sim")
      .orderBy("q_id", "rank").collect().toSeq
    // an unscreened re-rank IS brute force — same order, bit-exact cosines
    assert(bq === exact)
  }

  test("default screen keeps high recall against brute force") {
    val k = 10
    val exact = BruteForceKNN.topK(emb, "vec_id", "embedding", _ < 8, k)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bq = BinaryQuant.topKReranked(emb, "vec_id", "embedding", _ < 8,
        dim = 64, bits = 128, candidates = 120, k = k)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // deterministic planes -> this is a FIXED number (0.95), not a bound
    // that could flake; the corpus is hostile (true top-10 at cos≈0.29)
    val recall = (exact & bq).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@$k = $recall")
  }

  test("result ≡ driver-side replay of screen + re-rank") {
    val k = 5
    val pl = BinaryQuant.planes(64, 64)
    val all = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val codes = all.map { case (id, v) => id -> packRef(v, pl) }
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    def cos(a: Seq[Float], b: Seq[Float]) = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      foldDot(ad, bd) / (math.sqrt(foldDot(ad, ad)) *
        math.sqrt(foldDot(bd, bd)))
    }
    val want = (0L until 3L).flatMap { q =>
      val cand = all.keys.toSeq.filter(_ != q)
        .map(n => (n, ham(codes(q), codes(n))))
        .sortBy { case (n, h) => (h, n) }.take(40)
      cand.map { case (n, h) => (n, h, cos(all(q), all(n))) }
        .sortBy { case (n, _, c) => (-c, n) }.take(k)
        .zipWithIndex
        .map { case ((n, h, c), i) => (q, i + 1, n, h.toLong, c) }
    }
    val got = BinaryQuant.topKReranked(emb, "vec_id", "embedding", _ < 3,
        dim = 64, bits = 64, candidates = 40, k = k)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got === want)
  }
}
