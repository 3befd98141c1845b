package graft.similarity

import graft.SparkTestSession
import graft.expressions.DotProduct
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Bit-equality of the two centroid-assignment formulations: the
  * codebook-object path ([[graft.expressions.NearestCentroid]], the
  * shipped one — constant plan size, large-k capable) against the
  * k-literal-subtree `least(struct(...))` reference
  * ([[bestStructLiteral]]). Random integer-valued (quantized-
  * space) codebooks and vectors, including duplicate centroids (the
  * tie-break case) and single-centroid books. EXACT equality of both
  * the distance double and the winning centroid id — the two paths
  * must be one arithmetic.
  */
object NearestCentroidProps extends Properties("NearestCentroid") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  /** The k-literal-subtree formulation [[KMeans.bestStruct]] replaced:
    * `least(struct(qn + cn − 2·dot(q, lit(c)), cid), ...)` —
    * lexicographic struct ordering IS the (dist asc, cid asc) argmin
    * with its tie-break.
    */
  def bestStructLiteral(cents: Seq[KMeans.Centroid], q: Column,
      qn: Column): Column = {
    val structs = cents.map { c =>
      val dist = qn + lit(c.cn) -
        lit(2.0) * DotProduct(q, array(c.cv.map(lit).toSeq: _*))
      struct(dist.as("d"), lit(c.cid).as("c"))
    }
    if (structs.sizeIs == 1) structs.head else least(structs: _*)
  }

  private val genCase: Gen[(Int, Seq[Seq[Double]], Seq[Seq[Double]])] = for {
    dim <- Gen.choose(1, 12)
    k <- Gen.choose(1, 24)
    n <- Gen.choose(1, 40)
    // integer-valued components, the fixed-point regime; small range
    // forces distance ties so the cid tie-break is actually exercised
    comp = Gen.choose(-4, 4).map(_.toDouble)
    cents <- Gen.listOfN(k, Gen.listOfN(dim, comp))
    vecs <- Gen.listOfN(n, Gen.listOfN(dim, comp))
  } yield (dim, cents.map(_.toSeq), vecs.map(_.toSeq))

  property("codebook path == literal-least path, distance and id") =
    forAll(genCase) { case (_, centVecs, vecs) =>
      import spark.implicits._
      val cents = centVecs.zipWithIndex.map { case (cv, i) =>
        KMeans.Centroid(i.toLong, cv.toArray, KMeans.leftFoldSq(cv.toArray))
      }
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vid", "q")
        .select(col("vid"), col("q"),
          DotProduct(col("q"), col("q")).as("qn"))
      val both = df.select(
          KMeans.bestStruct(cents, col("q"), col("qn")).as("nc"),
          bestStructLiteral(cents, col("q"), col("qn")).as("lit"))
        .collect()
      both.forall { r =>
        val (nc, li) = (r.getStruct(0), r.getStruct(1))
        nc.getDouble(0) == li.getDouble(0) && nc.getLong(1) == li.getLong(1)
      }
    }
}
