package graft.similarity

import graft.expressions.{CentroidDistMap, DotProduct, FloorResidual}
import graft.similarity.Cosine._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** IVFADC — the composed billion-scale ANN layout: a trained coarse
  * quantizer prunes the corpus to the cells a query probes, and
  * product-quantization codes make scoring a surviving candidate `m`
  * map lookups (asymmetric distance), with the final ranking by EXACT
  * float cosine over the few screened survivors.
  *
  * This closes the gap the standalone faces leave open: [[IVFIndex]]
  * prunes but scores full vectors; [[ProductQuant]] compresses but
  * screens the WHOLE corpus per query. Composed, per query the work is
  * |corpus|/cells × nProbe ADC lookups — the FAISS-style IVFADC shape
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011) — and the corpus-side screen join is keyed on the cell
  * id, never query × corpus.
  *
  * Variant note: with `Config.residual = false` codes quantize the
  * GLOBAL vector; with `residual = true` they quantize the residual to
  * the vector's own coarse cell (`floor(q − centroid)`) — the
  * FAISS-default IVFADC encoding, which spends the same code budget on
  * a much smaller-diameter distribution (recall up at equal bits on
  * CLUSTERED data — measured recall@10 0.70 residual vs 0.59 global
  * on the spec's 8-cluster corpus; parity on the unclustered uniform
  * fixture where residuals don't shrink anything, IvfPqSpec).
  * The trade: residual codes couple to the coarse layout (cell retrain
  * ⇒ re-code), and each query builds one ADC LUT PER PROBED CELL
  * (nProbe× LUT work — still query-side-tiny) instead of one total.
  * The `floor` matters: a raw residual (integer quantized component −
  * rational centroid mean) would leave the fixed-point domain, making
  * the PQ trainer's distributed sums order-DEPENDENT; flooring
  * re-enters it, so every centroid sum stays an exact integer sum and
  * the DuckDB oracle reproduces the whole pipeline bit-for-bit. The
  * sub-unit truncation is 2^-20 of a component — noise relative to the
  * 16-cell-per-subspace quantization the codes then apply.
  *
  * Scale shape: ONE persisted quantized corpus frame feeds coarse
  * training, PQ training, and the coded-corpus projection (zero extra
  * scans); both codebooks ride the plan as flat-array objects
  * ([[graft.expressions.NearestCentroid]]), so cells can grow toward
  * the √N regime; the probe set (queries × nProbe rows + per-query
  * ADC LUTs) broadcasts; the screen is a broadcast HASH join on
  * `cell`. Determinism: every stage inherits [[KMeans]]'s fixed-point
  * exactness, probe ties break toward the smaller cell id, and the
  * DuckDB oracle replays coarse chain, PQ chains, probes, ADC sums
  * and re-rank bit-for-bit.
  */
object IvfPq {

  /** `cells` coarse centroids (trained, `coarseIters` Lloyd's passes),
    * `nProbe` cells probed per query; PQ knobs in `pq`. The coarse
    * trainer shares the PQ quantization scale so one quantized frame
    * serves both.
    */
  case class Config(cells: Int = 8, coarseIters: Int = 2, nProbe: Int = 2,
      residual: Boolean = false,
      pq: ProductQuant.Config = ProductQuant.Config()) {
    require(cells >= 1 && coarseIters >= 1 && nProbe >= 1)
    def coarseCfg: KMeans.Config = KMeans.Config(
      k = cells, iters = coarseIters, scaleBits = pq.scaleBits)
  }

  /** Driver-side mirror of [[graft.expressions.NearestCentroid]]'s
    * argmin (identical IEEE operand order and smaller-id tie-break)
    * followed by the floored residual — used to turn the shared seed
    * collect's GLOBAL vectors into the residual-space seeds the
    * residual PQ trainer needs, without a second job.
    */
  private[similarity] def residualOf(q: Array[Double],
      cents: Seq[KMeans.Centroid]): Array[Double] = {
    val qn = KMeans.leftFoldSq(q)
    var best: KMeans.Centroid = null
    var bestD = 0.0
    cents.foreach { c =>
      var dot = 0.0
      var i = 0
      while (i < q.length) { dot += q(i) * c.cv(i); i += 1 }
      val d = (qn + c.cn) - 2.0 * dot
      if (best == null || d < bestD || (d == bestD && c.cid < best.cid)) {
        best = c; bestD = d
      }
    }
    val r = new Array[Double](q.length)
    var i = 0
    while (i < q.length) { r(i) = math.floor(q(i) - best.cv(i)); i += 1 }
    r
  }

  /** A trained IVFADC model: the coarse codebook and the `m` PQ
    * subspace codebooks — driver-side, (cells + m·codeK)·(dim/…)
    * doubles total; everything else (the coded corpus) is data.
    */
  case class Model(coarse: Seq[KMeans.Centroid],
      books: Seq[Seq[KMeans.Centroid]])

  /** Deterministic content hash of a frozen model: MD5 over the
    * centroid ids and raw double BITS in canonical order (subspace,
    * cid, coefficient). [[IvfPqTable.readModel]] round-trips parquet
    * exactly (the bit-reproducibility contract), so a model and its
    * reopened epoch hash EQUAL — which is what lets the table-backed
    * index validate that an append's caller-held model IS the epoch in
    * force ([[IvfPqTable.append]]). `cn` is derived from `cv` and
    * excluded.
    */
  def modelHash(model: Model): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](8)
    def putLong(l: Long): Unit = {
      var i = 0
      while (i < 8) { buf(i) = (l >>> (56 - 8 * i)).toByte; i += 1 }
      md.update(buf)
    }
    def putCent(part: Int, c: KMeans.Centroid): Unit = {
      putLong(part.toLong); putLong(c.cid)
      c.cv.foreach(d => putLong(java.lang.Double.doubleToLongBits(d)))
    }
    model.coarse.foreach(putCent(-1, _))
    model.books.zipWithIndex.foreach { case (cents, s) =>
      cents.foreach(putCent(s, _))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** (vid, v, nrm, q, qn): the quantized prep every stage scans. */
  private[similarity] def prepare(vectors: DataFrame, idCol: String, vecCol: String,
      cfg: Config): DataFrame =
    KMeans.prepared(vectors, idCol, vecCol, cfg.pq.kmCfg.scale)

  // floored residual to a cell's centroid — floor re-enters the
  // fixed-point domain (doc comment above) so the residual PQ
  // trainer's sums stay exact integers. Native codegen'd pass
  // (FloorResidual — the codebook rides as one flat array); the
  // declarative zip_with formulation it replaced is the ScalaCheck'd
  // reference (FloorResidualProps), per the interpreted-HOF
  // discipline.
  private[similarity] def residTo(coarse: Seq[KMeans.Centroid], q: Column,
      cell: Column): Column =
    graft.expressions.FloorResidual(q, cell,
      coarse.map(_.cid), coarse.map(_.cv))

  /** Train coarse + PQ codebooks over a (cached) prep frame. ONE seed
    * collect feeds both (smallest-id seeding is shared policy;
    * slicing/truncating happens driver-side).
    *
    * Global encoding trains coarse and PQ books as ONE [[KMeans.train]]:
    * the PQ books quantize the same `q` the coarse book scans, so each
    * round is one pass for all of them. Residual encoding trains the
    * coarse book first — its PQ input, the floored residual `cq`, is
    * defined by the FINISHED coarse codebook — and seeds the PQ books
    * with the seed rows' residuals ([[residualOf]]), no second job.
    */
  private[similarity] def fitModel(prep: DataFrame, dim: Int,
      cfg: Config): Model = {
    val seedRows = KMeans.seedRows(prep, math.max(cfg.cells, cfg.pq.codeK))
    val coarseBook = KMeans.fullBook(seedRows, cfg.coarseCfg)
    if (!cfg.residual) {
      val all = KMeans.train(prep,
        coarseBook +: ProductQuant.books(seedRows, dim, cfg.pq))
      Model(all.head, all.tail)
    } else {
      val coarse = KMeans.train(prep, Seq(coarseBook)).head
      val pqSeeds =
        seedRows.map { case (vid, q) => (vid, residualOf(q, coarse)) }
      Model(coarse, KMeans.train(
        codeSource(prep, coarse, cfg).select(col("vid"), col("cq").as("q")),
        ProductQuant.books(pqSeeds, dim, cfg.pq)))
    }
  }

  /** Persist `prep`, fit the model on it and hand the model to `use`;
    * the prep is released when `use` returns or throws. Whatever `use`
    * builds lazily from `prep` rescans the source afterwards.
    */
  private[similarity] def withModel[A](prep: DataFrame, dim: Int,
      cfg: Config)(use: Model => A): A = {
    prep.persist()
    try use(fitModel(prep, dim, cfg))
    finally prep.unpersist(blocking = false)
  }

  /** A model as its persisted rows (part, cid, cv): part = -1 for the
    * coarse book, s for PQ subspace s. Doubles round-trip parquet
    * exactly, so [[modelFrom]] reproduces the model bit-for-bit.
    */
  private[similarity] def modelRows(spark: SparkSession,
      model: Model): DataFrame = {
    import spark.implicits._
    (model.coarse.map(c => (-1, c.cid, c.cv.toSeq)) ++
      model.books.zipWithIndex.flatMap { case (cents, s) =>
        cents.map(c => (s, c.cid, c.cv.toSeq))
      }).toDF("part", "cid", "cv")
  }

  /** The model [[modelRows]] wrote (norms recomputed with the same left
    * fold the trainer used — exact).
    */
  private[similarity] def modelFrom(rows: DataFrame): Model = {
    val cents = rows.select("part", "cid", "cv").collect().map { r =>
      val cv = r.getSeq[Double](2).toArray
      (r.getInt(0), KMeans.Centroid(r.getLong(1), cv, KMeans.leftFoldSq(cv)))
    }
    val coarse = cents.filter(_._1 == -1).map(_._2).sortBy(_.cid).toSeq
    val books = cents.filter(_._1 >= 0).groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).sortBy(_.cid).toSeq)
    Model(coarse, books)
  }

  /** prep + (cell, cq): `cq` is the vector the PQ codebooks quantize —
    * global, or the residual to the row's own cell.
    */
  private def codeSource(prep: DataFrame, coarse: Seq[KMeans.Centroid],
      cfg: Config): DataFrame = {
    val cellCol =
      KMeans.bestStruct(coarse, col("q"), col("qn")).getField("c").as("cell")
    if (!cfg.residual)
      prep.withColumn("cell", cellCol).withColumn("cq", col("q"))
    else
      prep.withColumn("cell", cellCol)
        .withColumn("cq", residTo(coarse, col("q"), col("cell")))
  }

  private[similarity] def cqSlice(s: Int, sub: Int): Column =
    slice(col("cq"), s * sub + 1, sub)
  private[similarity] def cqNorm(s: Int, sub: Int): Column =
    DotProduct(cqSlice(s, sub), cqSlice(s, sub))

  /** Code a frame with a FROZEN model: (vid, v, nrm, cell, c0..c{m-1})
    * — coarse cell + m PQ codes, one pure stateless projection (the
    * [[KMeans.label]] serving contract: no training, no shuffle, runs
    * identically on batch or streaming frames). Rows are EXACTLY what
    * [[writeIndex]] would produce for them under this model — the
    * append path's contract ([[appendToIndex]]).
    */
  def code(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
      model: Model, cfg: Config = Config()): DataFrame =
    coded(prepare(vectors, idCol, vecCol, cfg), model, dim, cfg)

  private[similarity] def coded(prep: DataFrame, model: Model, dim: Int,
      cfg: Config): DataFrame = {
    val sub = dim / cfg.pq.m
    codeSource(prep, model.coarse, cfg).select(
      col("vid") +: col("v") +: col("nrm") +: col("cell") +:
        model.books.zipWithIndex.map { case (cents, s) =>
          KMeans.bestStruct(cents, cqSlice(s, sub), cqNorm(s, sub))
            .getField("c").as(s"c$s")
        }: _*)
  }

  /** The probe set, built on the driver: per query the `nProbe`
    * nearest cells in the SAME quantized distance (ties toward the
    * smaller cell id), then the ADC LUTs from the probe-relative vector
    * (global: the query itself; residual: its floored residual to the
    * PROBED cell — one LUT set per (query, cell), the residual-IVFADC
    * shape). The query set is tiny and [[search]] broadcasts all of it
    * anyway, so its prep is collected (no job for a local query frame:
    * the projection folds into the local relation) and the distances,
    * residuals and LUTs run the kernels the Spark expressions share
    * ([[graft.expressions.CentroidDistMap.table]],
    * [[graft.expressions.FloorResidual.compute]]) — bit-equal to the
    * distributed explode + window formulation, which IvfPqProbeProps
    * keeps as the reference. Rows sharing a `q_id` (null included)
    * compete for its nProbe cells, as that window's partition does; a
    * query whose distance table is null (null vector or element, wrong
    * dimension) probes nothing, as `explode(null)`.
    *
    * Returns (q_id, pv, pn, cell, lut0..lut{m-1}) as a local relation
    * and the sorted distinct probed cells.
    */
  private[similarity] def probeSet(queriesPrep: DataFrame, model: Model,
      dim: Int, cfg: Config): (DataFrame, Array[Long]) = {
    val sub = dim / cfg.pq.m
    val coarse = new FlatBook(model.coarse)
    val books = model.books.map(new FlatBook(_))
    // (prep row, q, cell, cd): every coarse cell of every query whose
    // distance table is not null
    val cands = queriesPrep.select("vid", "v", "nrm", "q", "qn").collect()
      .toSeq.flatMap { r =>
        val q = if (r.isNullAt(3)) null
          else new GenericArrayData(r.getSeq[Any](3).toArray)
        val t = if (q == null || r.isNullAt(4)) null
          else coarse.dists(q, r.getDouble(4))
        if (t == null) Nil
        else (0 until t.numElements()).map(i =>
          (r, q, t.keyArray.getLong(i), t.valueArray.getDouble(i)))
      }
    // groupBy and sortWith are stable, so distance ties on one cell keep
    // the window's input order
    val probes = cands.groupBy(c => Option(c._1.get(0))).values.toSeq
      .flatMap(_.sortWith { (a, b) =>
        val c = SQLOrderingUtil.compareDoubles(a._4, b._4)
        c < 0 || (c == 0 && a._3 < b._3)
      }.take(cfg.nProbe))
    def asMap(t: MapData): Map[Long, Double] =
      if (t == null) null
      else (0 until t.numElements()).map(i =>
        t.keyArray.getLong(i) -> t.valueArray.getDouble(i)).toMap
    val rows = probes.map { case (r, q, cell, _) =>
      val cq =
        if (cfg.residual)
          FloorResidual.compute(q, cell, coarse.ids, coarse.flat, coarse.dim)
        else q
      val luts = books.zipWithIndex.map { case (book, s) =>
        val sl = Array.tabulate(sub)(i => cq.getDouble(s * sub + i))
        asMap(book.dists(new GenericArrayData(sl), KMeans.leftFoldSq(sl)))
      }
      Row.fromSeq(Seq(r.get(0), r.get(1), r.get(2), cell) ++ luts)
    }
    val schema = StructType(Seq(StructField("q_id", LongType),
        queriesPrep.schema("v").copy(name = "pv"),
        queriesPrep.schema("nrm").copy(name = "pn"),
        StructField("cell", LongType, nullable = false)) ++
      books.indices.map(s => StructField(s"lut$s",
        MapType(LongType, DoubleType, valueContainsNull = false))))
    (queriesPrep.sparkSession.createDataFrame(rows.asJava, schema),
      probes.map(_._3).distinct.sorted.toArray)
  }

  /** A codebook as the shared kernels take it: ids, norms and the
    * components flattened in codebook order.
    */
  private final class FlatBook(cents: Seq[KMeans.Centroid]) {
    val ids: Array[Long] = cents.map(_.cid).toArray
    val flat: Array[Double] = cents.flatMap(_.cv).toArray
    val dim: Int = flat.length / ids.length
    private val norms = cents.map(_.cn).toArray
    def dists(q: ArrayData, qn: Double): MapData =
      CentroidDistMap.table(q, qn, ids, norms, flat, dim)
  }

  /** ADC screen over probed cells ([[ProductQuant.adc]]) +
    * [[Cosine.screenRerank]] — the search tail shared by the
    * train-and-search and the served-index paths.
    */
  private[similarity] def search(codedDocs: DataFrame, probeSet: DataFrame, k: Int,
      cfg: Config): DataFrame = {
    // ADC over probed cells only: broadcast HASH join on the cell id —
    // the corpus never meets a query outside its probed cells
    val cands = codedDocs.join(broadcast(probeSet), "cell")
      .filter(col("vid") =!= col("q_id"))
      .select(col("q_id"), col("vid").as("n_id"), col("pv"), col("pn"),
        col("v"), col("nrm"), ProductQuant.adc(cfg.pq.m).as("dist_pq"))
    screenRerank(cands, "dist_pq", cfg.pq.screenK, k)
  }

  /** Top-k neighbors per query: probe `nProbe` coarse cells, ADC-screen
    * their members to `pq.screenK`, exact-cosine re-rank to k. Output:
    * (q_id, rank, n_id, cos_sim, dist_pq).
    */
  def topK(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
      isQuery: Column => Column, k: Int, cfg: Config = Config()): DataFrame = {
    require(cfg.pq.screenK >= k, "screenK must be >= k")
    // ONE persisted quantized frame: the coarse + PQ trainers and the
    // query probes scan this cache; both are eager, so it is released
    // before return and the coded-corpus projection rescans the source
    val prep = prepare(vectors, idCol, vecCol, cfg)
    val (model, probes) = withModel(prep, dim, cfg) { m =>
      (m, probeSet(prep.filter(isQuery(col("vid"))), m, dim, cfg)._1)
    }
    search(coded(prep, model, dim, cfg), probes, k, cfg)
  }

  // ------------------------------------------------------ persisted index

  /** Write a trained index as catalog tables — the staging-table form a
    * recurring serving/ingest pipeline reads instead of retraining:
    *
    *   - `<table>`: the coded corpus, `partitionBy("cell")` — each
    *     coarse cell is its own partition directory, so a served query
    *     batch READS ONLY ITS PROBED CELLS (scan-level partition
    *     pruning; at 100 TB that is nProbe/cells of the corpus instead
    *     of all of it);
    *   - `<table>_model`: the codebooks, one row per centroid
    *     (part = -1 coarse, s = PQ subspace s). Doubles round-trip
    *     parquet exactly, so a reread model reproduces the training
    *     run's results bit-for-bit ([[IvfPqIndexSpec]]).
    */
  def writeIndex(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, table: String, cfg: Config = Config()): Model = {
    val prep = prepare(vectors, idCol, vecCol, cfg)
    val model = withModel(prep, dim, cfg) { m =>
      coded(prep, m, dim, cfg)
        .write.partitionBy("cell").mode("overwrite").saveAsTable(table)
      m
    }
    modelRows(vectors.sparkSession, model)
      .write.mode("overwrite").saveAsTable(s"${table}_model")
    model
  }

  /** Reopen a [[writeIndex]]-persisted model ([[modelFrom]]). */
  def readModel(spark: SparkSession, table: String): Model =
    modelFrom(spark.table(s"${table}_model"))

  /** Code a NEW batch with the frozen model and append it to the
    * persisted index — the operational ingest loop: the same index
    * serves queries AND grows per ingest batch, with no retraining and
    * no re-coding of the standing corpus (appended rows land in their
    * cells' partition directories; the probed-cell pruning of
    * [[topKIndexed]] applies to them immediately). Residual or global,
    * a row's codes depend only on the frozen codebooks and the row
    * itself, so append-then-serve ≡ coding the union up front
    * (spec'd in IvfPqIndexSpec). Name-based append (`saveAsTable`):
    * the catalog table stores the partition column last, position-based
    * insertion would silently scramble columns.
    */
  def appendToIndex(batch: DataFrame, idCol: String, vecCol: String,
      dim: Int, table: String, model: Model,
      cfg: Config = Config()): Unit =
    code(batch, idCol, vecCol, dim, model, cfg)
      .write.partitionBy("cell").mode("append").saveAsTable(table)

  /** Serve a query batch from a persisted index: zero training jobs,
    * the probe set built on the driver ([[probeSet]]: no job for a
    * local query frame, one collect otherwise, nothing persisted), and
    * the coded-corpus scan restricted to the PROBED cells via a
    * partition-pruning IN filter. Output and semantics are [[topK]]'s;
    * [[IvfPqIndexSpec]] asserts row equality against the
    * train-and-search path and the pruned scan shape.
    */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int,
      cfg: Config = Config(), model: Option[Model] = None): DataFrame = {
    require(cfg.pq.screenK >= k, "screenK must be >= k")
    val m = model.getOrElse(readModel(spark, table))
    val (probes, cells) =
      probeSet(prepare(queries, idCol, vecCol, cfg), m, dim, cfg)
    val codedDocs = spark.table(table)
      .filter(col("cell").isin(cells.map(c => c: Any): _*))
    search(codedDocs, probes, k, cfg)
  }
}
