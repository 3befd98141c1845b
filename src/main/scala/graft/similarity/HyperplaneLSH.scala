package graft.similarity

import graft.similarity.Cosine._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search via random-hyperplane LSH
  * (signed random projections).
  *
  * Each vector gets a small integer bucket: bit p is the sign of its
  * dot product with pseudo-random hyperplane p. Vectors with high
  * cosine similarity agree on most signs (P[bit match] = 1 - θ/π), so
  * neighbors concentrate in the query's bucket. Search then touches
  * |corpus| / 2^planes vectors instead of all of them — the scale path
  * when brute force stops fitting; recall is tunable via plane count
  * (fewer planes = bigger buckets = higher recall) or multi-probe.
  *
  * Determinism: hyperplane components are md5-derived constants
  * (`(hex4(md5("seed:p:j")) % 2001 - 1000) / 1000`), identical in the
  * engine and in the generated oracle SQL literals — there is no RNG
  * anywhere, so results are reproducible run-to-run and engine-to-
  * engine. Bucketing is one zero-shuffle projection; the bucket
  * equi-join is the only shuffle.
  */
object HyperplaneLSH {

  case class Config(numPlanes: Int = 4, dim: Int = 64, seed: String = "hp")

  /** Deterministic hyperplane components, values in [-1, 1] with 3
    * decimal places (so SQL literals round-trip bit-exactly).
    */
  def planes(cfg: Config): Seq[IndexedSeq[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until cfg.numPlanes).map { p =>
      (1 to cfg.dim).map { j =>
        val hex = digest.digest(s"${cfg.seed}:$p:$j".getBytes("UTF-8"))
          .take(2).map(b => f"${b & 0xff}%02x").mkString
        (Integer.parseInt(hex, 16) % 2001 - 1000) / 1000.0
      }
    }
  }

  /** Bucket id (0 until 2^numPlanes) of an array<float|double> vector.
    * Plane components ride along as array literals through the native
    * [[graft.expressions.DotProduct]] — fully codegen'd projection.
    */
  def bucketExpr(v: Column, cfg: Config): Column =
    planes(cfg).zipWithIndex.map { case (plane, p) =>
      when(dot(v, typedLit(plane)) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Top-k cosine neighbors per query, searched WITHIN the query's LSH
    * bucket only. Same output shape as [[BruteForceKNN.topK]]; an
    * approximate subset of it (a neighbor in a different bucket is
    * missed — that's the accepted trade).
    */
  def topKInBucket(vectors: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, cfg: Config = Config()): DataFrame = {
    val prepared = vectors.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .withColumn("bucket", bucketExpr(col("v"), cfg))
    val q = prepared.filter(isQuery(col("vid")))
      .select(col("vid").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    queryTopK(prepared.join(q,
      col("bucket") === col("qb") && col("vid") =!= col("q_id")), k)
  }

  /** Multi-probe variant (Lv et al., VLDB 2007, transposed to
    * hyperplane LSH): besides its own bucket, each query probes the
    * buckets reached by flipping the `nProbe - 1` sign bits whose
    * margin `|q·plane_p|` is smallest — the planes the query sits
    * closest to, where a true neighbor most plausibly landed on the
    * other side. Recall rises toward brute force without growing the
    * table count or shrinking the planes; search cost is
    * `nProbe × |corpus| / 2^planes` per query.
    *
    * Shape: margins explode `numPlanes` rows per QUERY (the small
    * side); the rank window partitions by q_id; every probe is a
    * distinct bucket and each corpus vector lives in exactly one
    * bucket, so candidates never duplicate and no distinct step is
    * needed. The bucket equi-join stays the only corpus-scale
    * shuffle, identical to [[topKInBucket]].
    */
  def topKMultiProbe(vectors: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nProbe: Int,
      cfg: Config = Config()): DataFrame = {
    require(nProbe >= 1 && nProbe <= cfg.numPlanes + 1,
      s"nProbe must be in [1, numPlanes + 1], got $nProbe")
    val prepared = vectors.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .withColumn("bucket", bucketExpr(col("v"), cfg))
    val q = prepared.filter(isQuery(col("vid")))
      .select(col("vid").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    val margins = q.select(col("q_id"), col("qv"), col("qn"), col("qb"),
      posexplode(array(planes(cfg).map(p =>
        abs(dot(col("qv"), typedLit(p)))): _*)).as(Seq("p", "mg")))
    val byMargin = Window.partitionBy("q_id").orderBy(col("mg"), col("p"))
    val flips = margins
      .withColumn("rn", row_number().over(byMargin))
      .filter(col("rn") <= nProbe - 1)
      .select(col("q_id"), col("qv"), col("qn"),
        col("qb").bitwiseXOR(expr("shiftleft(1, p)")).as("pb"))
    val probes = q.select(col("q_id"), col("qv"), col("qn"),
        col("qb").as("pb"))
      .unionByName(flips)
    queryTopK(prepared.join(probes,
      col("bucket") === col("pb") && col("vid") =!= col("q_id")), k)
  }
}
