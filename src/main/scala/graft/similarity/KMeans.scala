package graft.similarity

import graft.expressions.DotProduct
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd's k-means over embedding columns — the trainer [[IVFIndex]]'s
  * doc comment defers to ("a production index would k-means them").
  *
  * Built for exact cross-engine verification AND the 100 TB shape:
  *
  *   - '''Fixed-point input.''' Each component is quantized once to
  *     `floor(x * 2^20)` (held as an integer-valued double). Centroid
  *     recomputation then only ever sums integers below 2^53, where IEEE
  *     double addition is EXACT and therefore order-independent — the
  *     one place floating point would otherwise make a distributed
  *     k-means nondeterministic (partial-aggregation order varies run to
  *     run). Distances and means stay bit-identical across Spark's
  *     hash aggregate and the DuckDB oracle's single-threaded fold.
  *   - '''Assignment is a pure projection.''' The codebook rides the
  *     plan as one flat-array object each iteration
  *     ([[graft.expressions.NearestCentroid]] — shipped in the task
  *     binary like a broadcast variable), so assigning a vector is one
  *     codegen'd k×dim argmin loop — no join, no shuffle, no per-row
  *     state, constant plan size in k. The corpus is scanned once per
  *     iteration.
  *   - '''Only k·d numbers ever reach the driver.''' Per iteration one
  *     RDD fold ([[refinePass]]) sums each partition's rows into k·d
  *     arrays — no aggregate, no shuffle — and the partition sums merge
  *     on the driver: the MLlib-style Lloyd's loop, independent of
  *     corpus size. The corpus itself is never collected.
  *
  * Distance is squared L2 in the quantized space, expanded as
  * `|q|² + |c|² − 2·q·c` so both norms are computed once (per row / per
  * centroid) and the cross term reuses the codegen'd dot fold. The
  * expansion's operand order is mirrored exactly by the oracle SQL.
  *
  * Deterministic policies (all mirrored by the oracle): seeds are the
  * vectors with the k smallest ids (cluster label = seed id); ties in
  * assignment break toward the smaller centroid id; a cluster that loses
  * all members is dropped (not re-seeded).
  *
  * Reference scope note: the reference engine
  * (jasjyotsinghjaswal/pyspark-datacol-diff) has no clustering surface —
  * this is an extension operator for the LLM-pipeline north star
  * (corpus clustering for curation / IVF cell training).
  */
object KMeans {

  /** `scaleBits`: fixed-point quantization of input components. 2^20
    * keeps |q·c| folds for unit-ish embeddings far below 2^53 exactness
    * territory even at dim 64 × 2^40 per term... (2^42 · 64 < 2^49).
    *
    * Regime: assignment carries the codebook as one flat array object
    * ([[graft.expressions.NearestCentroid]] — constant plan and
    * generated-code size in k), so k is bounded by codebook MEMORY
    * (k·dim doubles per executor, like any broadcast side) and the
    * k·dim multiply-adds per row, not by plan size: k=4096 × dim 64 is
    * stress-proven (Stress entry), the √N-cell regime a 100 TB
    * IVF/SemDeDup layout needs. The per-iteration driver collect stays
    * k·dim sums. The cap below is a sanity rail against accidentally
    * shipping a million-centroid codebook through a projection —
    * beyond it, assignment IS a join ([[IVFIndex.assign]]'s
    * centroid-frame shape).
    */
  case class Config(k: Int = 8, iters: Int = 3, scaleBits: Int = 20) {
    require(k >= 1 && iters >= 1 && scaleBits >= 0 && scaleBits <= 26)
    require(k <= 65536,
      "codebook assignment is for ≤64k centroids (k·dim doubles ride " +
        "the task binary); beyond that use the IVFIndex.assign " +
        "centroid-frame join shape")
    def scale: Double = (1L << scaleBits).toDouble
  }

  /** One trained centroid: stable label (= seed vector id), integer-
    * valued component means as doubles, and its precomputed squared norm
    * (left-folded, matching [[DotProduct]]'s order).
    */
  final case class Centroid(cid: Long, cv: Array[Double], cn: Double)

  private[similarity] def leftFoldSq(cv: Array[Double]): Double = {
    // ((0 + c0*c0) + c1*c1) + ... — the exact DotProduct/list_reduce order
    var acc = 0.0
    var i = 0
    while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
    acc
  }

  /** The fixed-point format every trainer and quantized scorer reads:
    * each component of `v` as `floor(x · scale)`, held as an
    * integer-valued double.
    */
  private[graft] def fixedPoint(v: Column, scale: Double): Column =
    transform(v.cast("array<double>"),
      x => floor(x * lit(scale)).cast("double"))

  /** Quantized frame: (vid, carry…, q: array<double> of integers,
    * qn: double).
    */
  private[similarity] def quantize(vectors: DataFrame, idCol: String,
      vecCol: String, cfg: Config, carry: Column*): DataFrame =
    vectors
      .select(col(idCol).cast("long").as("vid") +: carry :+
        fixedPoint(col(vecCol), cfg.scale).as("q"): _*)
      .withColumn("qn", DotProduct(col("q"), col("q")))

  /** (vid, v, nrm, q, qn): `v` as array<double> with its squared norm,
    * and its [[fixedPoint]] form `q` with `q`'s — the prep the
    * quantized scorers scan.
    */
  private[graft] def prepared(vectors: DataFrame, idCol: String,
      vecCol: String, scale: Double): DataFrame =
    vectors
      .select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", DotProduct(col("v"), col("v")))
      .withColumn("q", fixedPoint(col("v"), scale))
      .withColumn("qn", DotProduct(col("q"), col("q")))

  /** The k smallest-id (vid, quantized vector) rows — one TakeOrdered
    * job. Shared by this trainer's seeding and by composed layouts
    * ([[IvfPq]]) that seed TWO trainers (coarse + PQ) from a single
    * collect instead of one job each.
    */
  private[similarity] def seedRows(prep: DataFrame,
      k: Int): Seq[(Long, Array[Double])] =
    prep.orderBy("vid").limit(k).select("vid", "q").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  private[similarity] def fromSeedRows(
      rows: Seq[(Long, Array[Double])]): Seq[Centroid] =
    rows.map { case (vid, cv) => Centroid(vid, cv, leftFoldSq(cv)) }

  /** Codebook argmin for arbitrary (quantized-vector, squared-norm)
    * columns — shared with [[ProductQuant]], which runs one per
    * subspace. Output struct(d, c): squared distance and centroid id,
    * ties toward the smaller id.
    *
    * Implementation: [[graft.expressions.NearestCentroid]] — the whole
    * codebook rides the plan as ONE flat-array object (shipped in the
    * task binary like a broadcast variable, constant generated-code
    * size), so plan/codegen cost no longer grows with k and the
    * large-k regime (√N IVF cells, thousands of centroids) is open.
    * Bit-equal to the k-literal-subtree formulation it replaced (the
    * reference NearestCentroidProps keeps) by the expression's
    * arithmetic contract.
    */
  private[similarity] def bestStruct(cents: Seq[Centroid], q: Column,
      qn: Column): Column =
    graft.expressions.NearestCentroid(q, qn,
      cents.map(_.cid), cents.map(_.cn), cents.map(_.cv))

  private def bestColumn(cents: Seq[Centroid]): Column =
    bestStruct(cents, col("q"), col("qn"))

  private[similarity] def assign(prep: DataFrame, cents: Seq[Centroid]): DataFrame =
    prep.withColumn("best", bestColumn(cents))
      .select(col("vid"), col("q"), col("qn"),
        col("best.c").as("cluster"), col("best.d").as("dist"))

  /** One codebook's slice view of the quantized vector: the refinement
    * pass argmins `q[offset, offset+len)` against `cids/cns/flat` and
    * accumulates that slice's (cluster, position) sums under `tag`.
    * tag disambiguates codebooks sharing a pass (the book's index in
    * [[train]]).
    */
  private[similarity] final case class RefineView(tag: Int, offset: Int,
      len: Int, full: Boolean, cids: Array[Long], cns: Array[Double],
      flat: Array[Double])

  /** `full = true` mirrors NearestCentroid over the WHOLE vector
    * (numElements must equal the codebook dim); `full = false` mirrors
    * `slice(q, offset+1, len)` feeding it (the slice must be complete —
    * a shorter tail slice would dimension-mismatch to null).
    */
  private[similarity] def viewOf(tag: Int, offset: Int, full: Boolean,
      cents: Seq[Centroid]): RefineView =
    RefineView(tag, offset, cents.head.cv.length, full,
      cents.map(_.cid).toArray, cents.map(_.cn).toArray,
      cents.flatMap(_.cv).toArray)

  /** One Lloyd's refinement pass over a prepared (… q: array<double> …)
    * frame, as a raw RDD fold instead of a per-round Catalyst query
    * (guide §5 driver discipline / §2.4): every round used to build,
    * analyze, optimize and codegen a fresh
    * assign→posexplode→groupBy(cluster,pos) plan whose exploded input
    * is n×dim rows through an exchange — all to collect k·dim sums.
    * Here the SAME physical scan (planned once per training, reused
    * every round) feeds a per-partition accumulation: each task argmins
    * each row against every view with the IDENTICAL static loop the
    * codegen'd expression calls ([[graft.expressions.NearestCentroid
    * .nearestSlice]] — one implementation, zero drift), adds the
    * integer-valued components into a per-(tag, cid) array, and the
    * ≤ views·k·dim-entry partition maps merge driver-side. Every sum is
    * an exact integer-valued double (< 2^53), so accumulation order —
    * partition order, merge order — cannot change a bit of the result:
    * the rebuilt centroids equal the aggregate path's bit-for-bit
    * (property-pinned in KMeansSpec, and every consumer's oracle gate
    * re-proves it end-to-end).
    *
    * Null/ragged contract: a row whose slice is out of range or
    * contains a null element contributes nothing to that view —
    * mirroring the expression path, where such a row's label is null
    * (a poisoned state no uniform-dimension corpus produces; the
    * aggregate path would have funneled it into a null-keyed group).
    */
  private[similarity] def refinePass(prep: DataFrame, views: Seq[RefineView])
      : scala.collection.Map[(Int, Long), (Array[Double], Array[Long])] = {
    // the only per-round driver cost: planning a bare one-column
    // projection of the (cached) prep — no aggregate, no exchange, no
    // generator to optimize, and the accumulation runs outside Catalyst
    val rows = prep.select(col("q")).queryExecution.toRdd
    val vs = views.toArray
    rows.mapPartitions { iter =>
      val acc = scala.collection.mutable.HashMap
        .empty[(Int, Long), (Array[Double], Array[Long])]
      iter.foreach { row =>
        if (!row.isNullAt(0)) {
          val q = row.getArray(0)
          val n = q.numElements()
          var vi = 0
          while (vi < vs.length) {
            val v = vs(vi)
            if (if (v.full) n == v.len else v.offset + v.len <= n) {
              // slice self-norm: the exact left fold DotProduct(qs, qs)
              // computes — ((0 + x0·x0) + x1·x1) + …
              var qn = 0.0
              var i = 0
              var nullElem = false
              while (i < v.len && !nullElem) {
                if (q.isNullAt(v.offset + i)) nullElem = true
                else {
                  val x = q.getDouble(v.offset + i)
                  qn += x * x
                }
                i += 1
              }
              if (!nullElem) {
                val best = graft.expressions.NearestCentroid.nearestSlice(
                  q, v.offset, qn, v.cids, v.cns, v.flat, v.len)
                if (best != null) {
                  val cid = best.getLong(1)
                  val cell = acc.getOrElseUpdate((v.tag, cid),
                    (new Array[Double](v.len), new Array[Long](v.len)))
                  var j = 0
                  while (j < v.len) {
                    cell._1(j) += q.getDouble(v.offset + j)
                    cell._2(j) += 1L
                    j += 1
                  }
                }
              }
            }
            vi += 1
          }
        }
      }
      Iterator.single(acc)
    }.reduce { (a, b) =>
      b.foreach { case (k, (s, c)) =>
        a.get(k) match {
          case Some((sa, ca)) =>
            var i = 0
            while (i < sa.length) { sa(i) += s(i); ca(i) += c(i); i += 1 }
          case None => a(k) = (s, c)
        }
      }
      a
    }
  }

  /** Rebuild one tag's centroid set from a [[refinePass]] result:
    * means in ONE double division each, clusters sorted by id, empty
    * clusters simply absent — the aggregate path's policies verbatim.
    */
  private[similarity] def centroidsFromPass(
      pass: scala.collection.Map[(Int, Long), (Array[Double], Array[Long])],
      tag: Int): Seq[Centroid] =
    pass.iterator.filter(_._1._1 == tag).toSeq.sortBy(_._1._2)
      .map { case ((_, cid), (sums, counts)) =>
        val cv = sums.indices.filter(counts(_) > 0L)
          .map(i => sums(i) / counts(i)).toArray
        Centroid(cid, cv, leftFoldSq(cv))
      }

  /** One codebook to train: its view of the quantized vector
    * ([[viewOf]]: whole vector, or the slice at `offset`), its seed
    * centroids, and its `iters` (assignment passes; `iters − 1`
    * refinements).
    */
  private[similarity] final case class Book(offset: Int, full: Boolean,
      seeds: Seq[Centroid], iters: Int)

  /** A whole-vector book seeded by the first `cfg.k` of `rows`. */
  private[similarity] def fullBook(rows: Seq[(Long, Array[Double])],
      cfg: Config): Book =
    Book(0, full = true, fromSeedRows(rows.take(cfg.k)), cfg.iters)

  /** The Lloyd's loop every trainer runs: round r is ONE [[refinePass]]
    * over the books whose `iters` still cover r, so books that read the
    * same frame (ProductQuant's subspaces, IvfPq's coarse + PQ books)
    * share each round's scan. Books run independent chains — the
    * centroids equal training each book alone, bit-for-bit. Returns the
    * trained books in input order.
    */
  private[similarity] def train(prep: DataFrame,
      books: Seq[Book]): Seq[Seq[Centroid]] = {
    var cents = books.map(_.seeds).toVector
    for (round <- 2 to books.map(_.iters).max) {
      val live = books.indices.filter(round <= books(_).iters)
      val pass = refinePass(prep, live.map(b =>
        viewOf(b, books(b).offset, books(b).full, cents(b))))
      live.foreach(b => cents = cents.updated(b, centroidsFromPass(pass, b)))
    }
    cents
  }

  /** Train and label: [[centroids]] (`iters` assignment passes with
    * `iters − 1` centroid refinements between them), then [[label]]
    * with the trained codebook — nothing stays persisted. Returns one
    * row per input vector: (vec_id, cluster, dist) — cluster is the
    * seed id of the final nearest centroid, dist the squared
    * quantized-space L2.
    */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      cfg: Config = Config()): DataFrame =
    label(vectors, idCol, vecCol, centroids(vectors, idCol, vecCol, cfg), cfg)

  /** Label a frame with an already-trained centroid set: quantize with
    * the training config and take the same codebook argmin
    * ([[graft.expressions.NearestCentroid]]) — a
    * pure stateless projection, so it runs IDENTICALLY on batch and
    * streaming frames (the [[graft.streaming.EventStream]] one-
    * definition-for-both pattern; no state, no watermark needed).
    * This is the serving half of the operator: train once with [[fit]]/
    * [[centroids]], label every future batch/stream with the frozen
    * codebook.
    */
  def label(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Centroid], cfg: Config = Config()): DataFrame = {
    require(cents.nonEmpty, "label needs at least one centroid")
    assign(quantize(vectors, idCol, vecCol, cfg), cents)
      .select(col("vid").as("vec_id"), col("cluster"), col("dist"))
  }

  /** Trained centroids themselves (for feeding an IVF index). */
  def centroids(vectors: DataFrame, idCol: String, vecCol: String,
      cfg: Config = Config()): Seq[Centroid] = {
    val prep = quantize(vectors, idCol, vecCol, cfg).persist()
    try centroidsPrepared(prep, cfg)
    finally prep.unpersist(blocking = false)
  }

  /** [[centroids]] over an existing (vid, q, qn) quantized frame,
    * quantized with THIS config's scale.
    */
  private[similarity] def centroidsPrepared(prep: DataFrame,
      cfg: Config): Seq[Centroid] =
    train(prep, Seq(fullBook(seedRows(prep, cfg.k), cfg))).head
}
