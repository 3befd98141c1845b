package graft.similarity

import graft.SparkTestSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Bit-equality of the two floored-residual formulations: the
  * codebook-object path ([[graft.expressions.FloorResidual]], the
  * shipped one — one codegen'd pass per row) against the declarative
  * `zip_with(q, element_at(<literal map>, cell), floor(a − b))`
  * reference ([[residToHof]]). Random codebooks with
  * NON-integer centroid components (the Lloyd's-mean regime — means
  * are rational) against integer-valued quantized vectors, cell ids
  * drawn from the codebook AND from outside it (the missing-key →
  * null contract).
  */
object FloorResidualProps extends Properties("FloorResidual") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  /** The HOF formulation [[IvfPq.residTo]] replaced: `zip_with`
    * against a literal cell→centroid map, flooring each component
    * difference.
    */
  def residToHof(coarse: Seq[KMeans.Centroid], q: Column,
      cell: Column): Column = {
    val centMap = map_from_arrays(
      array(coarse.map(c => lit(c.cid)): _*),
      array(coarse.map(c => array(c.cv.map(lit).toSeq: _*)): _*))
    zip_with(q, element_at(centMap, cell),
      (a, b) => floor(a - b).cast("double"))
  }

  private val genCase: Gen[(Seq[Seq[Double]], Seq[(Seq[Double], Long)])] =
    for {
      dim <- Gen.choose(1, 12)
      k <- Gen.choose(1, 16)
      n <- Gen.choose(1, 40)
      intComp = Gen.choose(-1000, 1000).map(_.toDouble)
      // rational means: integer sums over small counts
      meanComp = for {
        s <- Gen.choose(-3000, 3000)
        c <- Gen.choose(1, 7)
      } yield s.toDouble / c
      cents <- Gen.listOfN(k, Gen.listOfN(dim, meanComp))
      rows <- Gen.listOfN(n, for {
        v <- Gen.listOfN(dim, intComp)
        // cid 0..k-1 exists; k..k+1 does not (missing-key case)
        cell <- Gen.choose(0L, k + 1L)
      } yield (v.toSeq, cell))
    } yield (cents.map(_.toSeq), rows)

  property("native pass == zip_with reference, per element and null") =
    forAll(genCase) { case (centVecs, rows) =>
      import spark.implicits._
      val cents = centVecs.zipWithIndex.map { case (cv, i) =>
        KMeans.Centroid(i.toLong, cv.toArray, KMeans.leftFoldSq(cv.toArray))
      }
      val df = rows.zipWithIndex
        .map { case ((v, cell), i) => (i.toLong, v, cell) }
        .toDF("vid", "q", "cell")
      val both = df.select(
          graft.expressions.FloorResidual(col("q"), col("cell"),
            cents.map(_.cid), cents.map(_.cv)).as("nat"),
          residToHof(cents, col("q"), col("cell")).as("ref"))
        .collect()
      both.forall { r =>
        (r.isNullAt(0) && r.isNullAt(1)) ||
          (!r.isNullAt(0) && !r.isNullAt(1) &&
            r.getSeq[Double](0) == r.getSeq[Double](1))
      }
    }
}
