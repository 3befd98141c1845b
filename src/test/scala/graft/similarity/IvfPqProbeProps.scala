package graft.similarity

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import scala.jdk.CollectionConverters._

/** Row-for-row equality of the driver-built probe set
  * ([[IvfPq.probeSet]]) and the distributed formulation it replaced
  * ([[IvfPqProbeProps.probes]]: explode the coarse distance map, cut
  * with `row_number` over `q_id`, then build the LUTs in Spark).
  * Doubles compare by raw bits, LUT maps as key → bits. Random
  * codebooks (some cells sharing a centroid, so distance ties break on
  * the cell id), both encodings, nProbe ∈ {1, 2, cells, cells + 1},
  * and query rows that are null, hold a null or NaN element, have the
  * wrong dimension, repeat an id (identical or distinct vectors) or
  * carry a null id.
  */
object IvfPqProbeProps extends Properties("IvfPqProbeSet") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  /** The distributed probe formulation: nProbe nearest cells per
    * `q_id` partition (ties toward the smaller cell id), then the ADC
    * LUTs from the probe-relative vector.
    */
  def probes(queriesPrep: DataFrame, model: IvfPq.Model, dim: Int,
      cfg: IvfPq.Config): DataFrame = {
    val sub = dim / cfg.pq.m
    val coarseDists = graft.expressions.CentroidDistMap(
      col("q"), col("qn"),
      model.coarse.map(_.cid), model.coarse.map(_.cn),
      model.coarse.map(_.cv))
    val wp = Window.partitionBy("q_id").orderBy(asc("cd"), asc("cell"))
    val lutCols = model.books.zipWithIndex.map { case (cents, s) =>
      graft.expressions.CentroidDistMap(
        IvfPq.cqSlice(s, sub), IvfPq.cqNorm(s, sub),
        cents.map(_.cid), cents.map(_.cn), cents.map(_.cv)).as(s"lut$s")
    }
    queriesPrep
      .select(col("vid").as("q_id"), col("v").as("pv"), col("nrm").as("pn"),
        col("q"), explode(coarseDists).as(Seq("cell", "cd")))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= cfg.nProbe)
      .withColumn("cq",
        if (cfg.residual) IvfPq.residTo(model.coarse, col("q"), col("cell"))
        else col("q"))
      .select(Seq(col("q_id"), col("pv"), col("pn"),
        col("cell")) ++ lutCols: _*)
  }

  private case class Case(cfg: IvfPq.Config, dim: Int, model: IvfPq.Model,
      rows: Seq[Row])

  private val querySchema = StructType(Seq(
    StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = true))))

  private def book(ids: Seq[Long], comps: Gen[Double],
      dim: Int): Gen[Seq[KMeans.Centroid]] =
    for {
      cvs <- Gen.listOfN(ids.size, Gen.listOfN(dim, comps))
      // a repeated centroid makes two cells tie on distance
      twin <- Gen.oneOf(false, true)
    } yield {
      val vs = if (twin && cvs.size > 1) cvs.updated(1, cvs.head) else cvs
      ids.zip(vs).map { case (id, v) =>
        KMeans.Centroid(id, v.toArray, KMeans.leftFoldSq(v.toArray))
      }
    }

  private val genCase: Gen[Case] = for {
    m <- Gen.choose(1, 3)
    sub <- Gen.choose(1, 4)
    dim = m * sub
    cells <- Gen.choose(1, 6)
    codeK <- Gen.choose(2, 5)
    residual <- Gen.oneOf(false, true)
    scale = ProductQuant.Config().kmCfg.scale
    // rational, Lloyd's-mean-like components in the quantized domain
    comp = for {
      s <- Gen.choose(-scale, scale)
      c <- Gen.choose(1, 7)
    } yield math.floor(s) / c
    // unordered, non-contiguous cell ids
    picked <- Gen.pick(cells, 0L until 40L)
    seed <- Gen.long
    coarse <- book(new scala.util.Random(seed).shuffle(picked.toSeq), comp, dim)
    books <- Gen.listOfN(m, book((0L until codeK).reverse, comp, sub))
    x = Gen.choose(-1.0, 1.0)
    normal = Gen.listOfN(dim, x)
    kinds = Gen.frequency(
      6 -> normal.map(v => v: Seq[Any]),
      1 -> normal.map(v => v.updated(0, Double.NaN): Seq[Any]),
      1 -> Gen.const(null: Seq[Any]),
      1 -> normal.map(v => v.updated(v.size - 1, null): Seq[Any]),
      1 -> Gen.listOfN(dim + 1, x).map(v => v: Seq[Any]))
    base <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, kinds))
    twins <- Gen.someOf(base.indices)
    shared <- Gen.option(normal)
    nullIds <- Gen.choose(0, 2)
  } yield {
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong: Any, v) }
    // repeated ids: exact copies, and one distinct vector under id 0
    val withDups = rows ++ twins.map(rows) ++
      shared.filter(_ => rows.nonEmpty).map(v => (0L: Any, v: Seq[Any]))
    val withNulls = withDups.zipWithIndex.map { case ((id, v), i) =>
      (if (i < nullIds) null else id, v)
    }
    Case(IvfPq.Config(cells = cells, residual = residual,
        pq = ProductQuant.Config(m = m, codeK = codeK)),
      dim, IvfPq.Model(coarse, books),
      withNulls.map { case (id, v) => Row(id, v) })
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** A probe row with every double as raw bits and each LUT as key →
    * bits; nulls as None.
    */
  private def canon(r: Row): Seq[Any] =
    (0 until r.length).map { i =>
      if (r.isNullAt(i)) None
      else r.get(i) match {
        case d: Double => Some(bits(d))
        case s: scala.collection.Seq[_] =>
          Some(s.map(e => Option(e).map(d => bits(d.asInstanceOf[Double]))))
        case mp: scala.collection.Map[_, _] =>
          Some(mp.map { case (k, d) => k -> bits(d.asInstanceOf[Double]) }.toMap)
        case v => Some(v)
      }
    }

  private def multiset(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(canon).groupBy(identity).map { case (k, v) => k -> v.size }

  property("driver probe set == explode + window reference, row for row") =
    forAll(genCase) { c =>
      val prep = IvfPq.prepare(
        spark.createDataFrame(c.rows.asJava, querySchema), "id", "vec", c.cfg)
      Seq(1, 2, c.cfg.cells, c.cfg.cells + 1).distinct.forall { np =>
        val cfg = c.cfg.copy(nProbe = np)
        val (got, cells) = IvfPq.probeSet(prep, c.model, c.dim, cfg)
        val want = probes(prep, c.model, c.dim, cfg)
        val wantRows = want.collect().toSeq
        got.schema == want.schema &&
          multiset(got.collect().toSeq) == multiset(wantRows) &&
          cells.toSeq == wantRows.map(_.getLong(3)).distinct.sorted
      }
    }
}
