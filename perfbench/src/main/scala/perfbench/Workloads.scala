package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.dedup.{ExactDedup, MinHashLSH}
import graft.diff.DataColDiff
import graft.queries.Tables
import graft.similarity.IvfPq
import graft.text.{Curation, LangId, TextStats}
import graft.text.TextFeatures.words
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one op reports: its wall seconds, the items it processed, and
  * the problems its check found (empty when correct).
  */
final case class OpOutcome(seconds: Double, items: Long, problems: Seq[String])

/** Shared state of a run: the session, the run's temp dir, the seed. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  val tracer = new Tracer(spark.sparkContext)
  def dir(parts: String*): String = work.resolve(parts.mkString("/")).toString

  /** Moves `<raw>/<k>=<i>` partition dirs written by a partitioned write
    * to `<in>/<i>/<name>.parquet`, the layout `Tables.load` reads.
    */
  def adopt(raw: String, key: String, name: String): Unit = {
    val src = Paths.get(raw)
    Files.list(src).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith(s"$key=")).foreach { p =>
        val i = p.getFileName.toString.drop(key.length + 1)
        val dst = work.resolve(s"in/$i/$name.parquet")
        Files.createDirectories(dst.getParent)
        Files.move(p, dst)
      }
  }
}

/** One benchmark workload, driven by [[Main]] in a closed loop with one
  * caller: set-up, then ops until the time is up.
  */
trait Workload {
  def ctx: Ctx
  /** Writes the first inputs (for ann, also builds the index); returns
    * the seconds spent in library calls, not in the benchmark's own
    * input generation.
    */
  def setup(): Double
  /** Op `i`, on an input no earlier op read. */
  def op(i: Int): OpOutcome
  /** Per-layer metrics of this workload (tracing on for `traced` ops). */
  def layers(traced: Seq[Int]): Map[String, Double]
  /** Cached blocks left after the last untraced op (traced ops add the
    * decomposition calls' caches), for `<layer>.blocks_left`.
    */
  var blocksLeft = 0L

  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer
  protected def timed[T](name: String, op: Int)(body: => T): (T, Double) =
    tracer.timed(name, op)(body)

  /** Codegen compiles and compile seconds inside traced op bodies. */
  private var compiles = 0L
  private var compileSeconds = 0.0

  /** The timed body of op `i`: its public calls only, so its time is the
    * op's time. With tracing on, the codegen work the body caused is
    * summed; calls after it (checks, decomposition) are not charged.
    */
  protected def opBody[T](name: String, i: Int)(body: => T): (T, Double) = {
    val (c0, s0) = (Probe.codegenCompiles, Probe.codegenSeconds)
    val r = timed(name, i)(body)
    if (tracer.on) {
      compiles += Probe.codegenCompiles - c0
      compileSeconds += Probe.codegenSeconds - s0
    }
    r
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median over traced ops of a per-op listener reading. */
  protected def perOp(traced: Seq[Int])(f: Int => Double): Double =
    if (traced.isEmpty) 0.0 else Stats.median(traced.map(f))

  /** Spark-level per-op readings over the labels of the op itself. */
  protected def sparkLayer(traced: Seq[Int], opLabel: String => Boolean)
      : Map[String, Double] = {
    def a(i: Int) = tracer.agg(i)(opLabel)
    val n = traced.size.max(1)
    Map(
      "spark.jobs_per_op" -> perOp(traced)(a(_).jobs.toDouble),
      "spark.stages_per_op" -> perOp(traced)(a(_).stages.toDouble),
      "spark.tasks_per_op" -> perOp(traced)(a(_).tasks.toDouble),
      "spark.task_wait_s" -> perOp(traced)(a(_).taskWaitMs / 1e3),
      "spark.codegen_compile_s" -> compileSeconds / n,
      "spark.codegen_compiles_per_op" -> compiles.toDouble / n,
      "spark.exec_cpu_s" -> perOp(traced)(a(_).cpuNs / 1e9),
      "spark.exec_run_s" -> perOp(traced)(a(_).runMs / 1e3),
      "spark.gc_s" -> perOp(traced)(a(_).gcMs / 1e3),
      "spark.shuffle_read_mb" -> perOp(traced)(a(_).shuffleRead / 1e6),
      "spark.shuffle_write_mb" -> perOp(traced)(a(_).shuffleWrite / 1e6),
      "spark.spill_mb" -> perOp(traced)(a(_).spill / 1e6),
      "spark.failed_tasks" -> traced.map(a(_).failedTasks).sum.toDouble)
  }

  /** Wall seconds of calls named `name`, median over traced ops. */
  protected val callSeconds = mutable.Map.empty[(String, Int), Double]
  protected def record(name: String, i: Int, s: Double): Unit =
    if (tracer.on) callSeconds((name, i)) = s
  protected def callMedian(name: String, traced: Seq[Int]): Double = {
    val xs = traced.flatMap(i => callSeconds.get((name, i)))
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** A queue of pre-written op inputs, each read by one op only. Set-up
    * writes the first chunk; an empty queue is refilled a chunk at a
    * time, outside any op's timing.
    */
  protected final class Pool[T](chunk: Int, make: Seq[Int] => Seq[T]) {
    private var next = 0
    private val q = mutable.Queue.empty[T]
    def fill(): Unit = {
      q ++= make(next until next + chunk)
      next += chunk
    }
    def take(): T = {
      if (q.isEmpty) fill()
      q.dequeue()
    }
  }
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "diff_small" => new DiffSmall(ctx)
    case "curate_corpus" => new CurateCorpus(ctx)
    case "ann_search" => new AnnSearch(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  /** The workloads of BENCHMARK.json. */
  val names: Seq[String] = Seq("diff_small", "curate_corpus", "ann_search")
}

/** `diff_small`: the paper's own traffic. Each op loads both sides with
  * `Tables.load`, calls `computeDataframeDiff` on key `id`, collects the
  * stats and every diff row, and releases the one handle the API
  * returns. Inputs are fixture-shaped string tables of 100–1,000 rows.
  */
final class DiffSmall(val ctx: Ctx) extends Workload {
  private val pks = Seq("id")
  private val schema = StructType(
    StructField("k", IntegerType) +: StructField("side", StringType) +:
      Gen.SmallCols.map(StructField(_, StringType)))

  private val pool = new Pool[(String, Gen.DiffTruth, Long)](DiffSmall.Chunk, { ks =>
    val pairs = ks.map(k => k -> Gen.smallPair(ctx.seed, k))
    val rows = pairs.flatMap { case (k, p) =>
      p.s1.map(r => Row.fromSeq(k +: "s1" +: r.toSeq)) ++
        p.s2.map(r => Row.fromSeq(k +: "s2" +: r.toSeq))
    }
    val raw = ctx.dir(s"raw-${ks.head}")
    spark.createDataFrame(rows.asJava, schema)
      .write.partitionBy("side", "k").parquet(raw)
    Seq("s1", "s2").foreach(s => ctx.adopt(s"$raw/side=$s", "k", s))
    pairs.map { case (k, p) =>
      (ctx.dir(s"in/$k"), p.truth, (p.s1.size + p.s2.size).toLong)
    }
  })

  def setup(): Double = { pool.fill(); 0.0 }

  def op(i: Int): OpOutcome = {
    val (dir, truth, items) = pool.take()
    val ((res, stats, rows), secs) = opBody("diff.op", i) {
      val ((s1, s2), tl) = timed("queries.load", i) {
        (Tables.load(spark, dir, "s1"), Tables.load(spark, dir, "s2"))
      }
      record("queries.load", i, tl)
      val (res, tc) = timed("diff.compute", i) {
        DataColDiff.computeDataframeDiff(s1, s2, pks)
          .fold(m => throw new IllegalStateException(m.message), identity)
      }
      record("diff.compute", i, tc)
      val (stats, ts) = timed("diff.stats", i) { res.stats.collect() }
      record("diff.stats", i, ts)
      val (rows, tr) = timed("diff.rows", i) {
        res.diff.select(col("id_s1"), col("id_s2"), col(DataColDiff.Flag),
          col(DataColDiff.CompColArr)).collect()
      }
      record("diff.rows", i, tr)
      res.diff.unpersist(blocking = true)
      (res, stats, rows)
    }
    if (!tracer.on) blocksLeft = Probe.blocksLeft(spark.sparkContext)
    if (tracer.on) decompose(i, dir)
    val flags = Map("S1_ONLY" -> res.counts.s1Only, "S2_ONLY" -> res.counts.s2Only,
      "NODIFF" -> res.counts.noDiff, "" -> res.counts.diff)
    val statMap = stats.map(r => r.getString(0) -> r.getLong(1)).toMap
    val rowFlags = rows.groupBy(_.getString(2)).view.mapValues(_.length.toLong).toMap
    val entries = rows.flatMap { r =>
      val key = Option(r.getString(0)).getOrElse(r.getString(1))
      r.getSeq[Row](3).map(e => (key, e.getString(0), e.getString(1), e.getString(2)))
    }.toSet
    OpOutcome(secs, items, Checks.diff(truth, flags, statMap, rowFlags, entries))
  }

  /** Traced ops only: time the plan build and physical planning of the
    * same diff on the same input, after the op.
    */
  private def decompose(i: Int, dir: String): Unit = {
    val s1 = Tables.load(spark, dir, "s1")
    val s2 = Tables.load(spark, dir, "s2")
    val (plan, tb) = timed("diff.build", i) {
      DataColDiff.diffPlan(s1, s2, pks).toOption.get
    }
    record("diff.build", i, tb)
    val (_, tp) = timed("diff.plan", i) { plan.queryExecution.executedPlan }
    record("diff.plan", i, tp)
  }

  private val opLabels = Set("queries.load", "diff.compute", "diff.stats", "diff.rows")
  private val diffLabels = Set("diff.compute", "diff.stats", "diff.rows")

  def layers(traced: Seq[Int]): Map[String, Double] = {
    def a(i: Int) = tracer.agg(i)(diffLabels)
    sparkLayer(traced, opLabels) ++ Map(
      "queries.load_s" -> callMedian("queries.load", traced),
      "diff.build_s" -> callMedian("diff.build", traced),
      "diff.plan_s" -> callMedian("diff.plan", traced),
      "diff.compute_s" -> callMedian("diff.compute", traced),
      "diff.stats_s" -> callMedian("diff.stats", traced),
      "diff.rows_s" -> callMedian("diff.rows", traced),
      "diff.jobs" -> perOp(traced)(a(_).jobs.toDouble),
      "diff.stages" -> perOp(traced)(a(_).stages.toDouble),
      "diff.tasks" -> perOp(traced)(a(_).tasks.toDouble),
      "diff.exec_cpu_s" -> perOp(traced)(a(_).cpuNs / 1e9),
      "diff.task_wait_s" -> perOp(traced)(a(_).taskWaitMs / 1e3),
      "diff.shuffle_write_mb" -> perOp(traced)(a(_).shuffleWrite / 1e6),
      "diff.spill_mb" -> perOp(traced)(a(_).spill / 1e6),
      "diff.blocks_left" -> blocksLeft.toDouble)
  }
}

object DiffSmall {
  val Chunk = 6
}

/** `curate_corpus`: `Curation.curate` over a seeded corpus with planted
  * exact and near clones; survivors collected.
  */
final class CurateCorpus(val ctx: Ctx, docs: Int = CurateCorpus.Docs)
    extends Workload {
  private val cfg = Curation.Config()
  private var caught, eligible = 0

  private val pool = new Pool[(String, Gen.Corpus)](CurateCorpus.Chunk, { ks =>
    val corpora = ks.map(k => k -> Gen.corpus(ctx.seed, k, docs))
    val session = spark
    import session.implicits._
    val df = corpora.flatMap { case (k, c) =>
      c.ids.indices.map(j => (k, c.ids(j), c.texts(j)))
    }.toDF("k", "doc_id", "text")
    val raw = ctx.dir(s"raw-${ks.head}")
    df.repartition(4).write.partitionBy("k").parquet(raw)
    ctx.adopt(raw, "k", "docs")
    corpora.map { case (k, c) => (ctx.dir(s"in/$k"), c) }
  })

  def setup(): Double = { pool.fill(); 0.0 }

  def op(i: Int): OpOutcome = {
    val (dir, corpus) = pool.take()
    val (survivors, secs) = opBody("curate.op", i) {
      val (docsDf, tl) = timed("queries.load", i) { Tables.load(spark, dir, "docs") }
      record("queries.load", i, tl)
      val (out, tb) = timed("text.curate_build", i) {
        Curation.curate(docsDf, "doc_id", "text", cfg)
      }
      record("text.curate_build", i, tb)
      val (ids, te) = timed("text.curate_exec", i) {
        out.select("doc_id").collect().map(_.getLong(0))
      }
      record("text.curate_exec", i, te)
      ids
    }
    if (!tracer.on) blocksLeft = Probe.blocksLeft(spark.sparkContext)
    if (i < 0) {
      // recall over the warm-up ops only: a fixed set of inputs per seed,
      // so it repeats exactly however many ops a run fits
      val (c, e) = Checks.nearDupRecall(corpus, survivors, cfg.lsh.threshold, cfg.minQuality)
      caught += c; eligible += e
    }
    if (tracer.on) decompose(i, dir)
    OpOutcome(secs, corpus.size, Checks.curate(corpus, survivors, cfg.minQuality))
  }

  private val candidates = mutable.Map.empty[Int, Long]
  private val verified = mutable.Map.empty[Int, Long]

  /** Traced ops only: the stages `curate` composes, each timed as its
    * own public call on the same input. A decomposition, not an exact
    * attribution of the time inside `curate`.
    */
  private def decompose(i: Int, dir: String): Unit = {
    val docsDf = Tables.load(spark, dir, "docs")
    val w = words(col("text"))
    record("text.score", i, timed("text.score", i) {
      noop(docsDf.select(TextStats.qualityScore(w), LangId.predictCol(w)))
    }._2)
    val uniq = ExactDedup.byTextHash(docsDf, "text", "doc_id")
    record("dedup.exact", i, timed("dedup.exact", i) { noop(uniq) }._2)
    val (nc, tc) = timed("dedup.candidates", i) {
      MinHashLSH.candidatePairs(MinHashLSH.docShingles(uniq, "doc_id", "text", cfg.lsh),
        cfg.lsh).count()
    }
    record("dedup.candidates", i, tc)
    val (nv, tv) = timed("dedup.verify", i) {
      MinHashLSH.nearDuplicatePairs(uniq, "doc_id", "text", cfg.lsh).count()
    }
    record("dedup.verify", i, tv)
    candidates(i) = nc; verified(i) = nv
  }

  private val opLabels = Set("queries.load", "text.curate_build", "text.curate_exec")
  private val textLabels = Set("text.curate_build", "text.curate_exec")
  private val dedupLabels = Set("dedup.exact", "dedup.candidates", "dedup.verify")

  def layers(traced: Seq[Int]): Map[String, Double] = {
    def t(i: Int) = tracer.agg(i)(textLabels)
    def d(i: Int) = tracer.agg(i)(dedupLabels)
    val cand = perOp(traced)(candidates.getOrElse(_, 0L).toDouble)
    val ver = perOp(traced)(verified.getOrElse(_, 0L).toDouble)
    sparkLayer(traced, opLabels) ++ Map(
      "queries.load_s" -> callMedian("queries.load", traced),
      "text.curate_build_s" -> callMedian("text.curate_build", traced),
      "text.curate_exec_s" -> callMedian("text.curate_exec", traced),
      "text.score_s" -> callMedian("text.score", traced),
      "text.exec_cpu_s" -> perOp(traced)(t(_).cpuNs / 1e9),
      "text.shuffle_write_mb" -> perOp(traced)(t(_).shuffleWrite / 1e6),
      "dedup.exact_s" -> callMedian("dedup.exact", traced),
      "dedup.candidates_s" -> callMedian("dedup.candidates", traced),
      "dedup.verify_s" -> callMedian("dedup.verify", traced),
      "dedup.candidate_pairs" -> cand,
      "dedup.verified_pairs" -> ver,
      "dedup.verified_ratio" -> (if (cand > 0) ver / cand else 0.0),
      "dedup.exec_cpu_s" -> perOp(traced)(d(_).cpuNs / 1e9),
      "dedup.shuffle_write_mb" -> perOp(traced)(d(_).shuffleWrite / 1e6),
      "dedup.blocks_left" -> blocksLeft.toDouble,
      "dedup.near_dup_recall" -> nearDupRecall)
  }

  def nearDupRecall: Double = if (eligible == 0) 0.0 else caught.toDouble / eligible
}

object CurateCorpus {
  val Docs = 2000
  val Chunk = 4
}

/** `ann_search`: serving k=10 query batches from a persisted IVF-PQ
  * index that grows by ~1% every few batches.
  */
final class AnnSearch(val ctx: Ctx, indexSize: Int = AnnSearch.Size) extends Workload {
  import AnnSearch._
  private val cfg = IvfPq.Config(cells = Cells, nProbe = Probes, residual = true,
    pq = graft.similarity.ProductQuant.Config(screenK = ScreenK))
  private val centres = Gen.centres(ctx.seed)
  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))
  private var model: IvfPq.Model = null
  // exactly the vectors the index holds, for the exact top-k
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Double]]
  private val norms = mutable.ArrayBuffer.empty[Double]
  private var nextQueryBatch = 0
  private var appends = 0
  private var hits, asked = 0L
  private var buildSeconds = 0.0
  private val appendSeconds = mutable.ArrayBuffer.empty[Double]
  private val appendWrite = mutable.Map.empty[Int, (Long, Long)]

  private def frame(first: Long, vs: Array[Array[Double]]): DataFrame =
    spark.createDataFrame(vs.indices.map(j =>
      Row(first + j, vs(j).toSeq)).asJava, vecSchema)

  private def hold(first: Long, vs: Array[Array[Double]]): Unit =
    vs.indices.foreach { j =>
      ids += first + j; vecs += vs(j)
      norms += math.sqrt(vs(j).map(x => x * x).sum)
    }

  def setup(): Double = {
    val vs = Gen.vectors(ctx.seed, 1000L, indexSize, centres)
    val dir = ctx.dir("vectors")
    // two input splits, so the index starts with two files per cell
    frame(0L, vs).coalesce(2).write.parquet(s"$dir/vectors.parquet")
    val t0 = System.nanoTime()
    model = IvfPq.writeIndex(Tables.load(spark, dir, "vectors"), "id", "vec",
      Gen.Dim, Table, cfg)
    buildSeconds = (System.nanoTime() - t0) / 1e9
    hold(0L, vs)
    // one append in set-up, so the append path is warm before any op
    val (ta, problems) = append(-1)
    if (problems.nonEmpty) throw new IllegalStateException(problems.mkString("; "))
    buildSeconds + ta
  }

  /** Appends ~1% of the index; returns the append's seconds and the
    * problems of the row-count check that follows it.
    */
  private def append(i: Int): (Double, Seq[String]) = {
    val n = indexSize / 100
    val first = indexSize.toLong + appends.toLong * n
    val vs = Gen.vectors(ctx.seed, 2000L + appends, n, centres)
    // one partition: an append adds one file per cell, not one per task
    val batch = frame(first, vs).coalesce(1)
    appends += 1
    val (_, ta) = timed("similarity.append", i) {
      IvfPq.appendToIndex(batch, "id", "vec", Gen.Dim, Table, model, cfg)
    }
    if (i >= 0) appendSeconds += ta
    if (tracer.on)
      appendWrite(i) = (tracer.agg(i)(_ == "similarity.append").bytesWritten,
        n.toLong * (Gen.Dim + 1) * 8)
    hold(first, vs)
    val held = spark.table(Table).count()
    (ta, if (held == ids.length) Nil
      else Seq(s"index holds $held rows after append, expected ${ids.length}"))
  }

  def op(i: Int): OpOutcome = {
    val problems = Seq.newBuilder[String]
    if (i > 0 && i % AppendEvery == 0) problems ++= append(i)._2
    val qs = Gen.vectors(ctx.seed, 3000L + nextQueryBatch, Batch, centres)
    val qFirst = QueryIds + nextQueryBatch.toLong * Batch
    nextQueryBatch += 1
    val qdf = frame(qFirst, qs)
    val (rows, secs) = opBody("similarity.op", i) {
      val (res, tb) = timed("similarity.topk_build", i) {
        IvfPq.topKIndexed(spark, Table, qdf, "id", "vec", Gen.Dim, K, cfg)
      }
      record("similarity.topk_build", i, tb)
      val (rows, te) = timed("similarity.topk_exec", i) {
        res.select("q_id", "rank", "n_id", "cos_sim").collect()
      }
      record("similarity.topk_exec", i, te)
      rows
    }
    if (!tracer.on) blocksLeft = Probe.blocksLeft(spark.sparkContext)
    if (tracer.on)
      record("similarity.model_read", i,
        timed("similarity.model_read", i) { IvfPq.readModel(spark, Table) }._2)
    val got = rows.map(r => Checks.Neighbour(r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3)))
    val qmap = qs.indices.map(j => (qFirst + j) -> qs(j)).toMap
    val (ps, h) = Checks.ann(qmap, got.toSeq, K, ids.toArray, vecs.toArray, norms.toArray)
    // recall over the warm-up ops only, as for near-dup recall
    if (i < 0) { hits += h; asked += Batch.toLong * K }
    problems ++= ps
    OpOutcome(secs, Batch, problems.result())
  }

  def recall: Double = if (asked == 0) 0.0 else hits.toDouble / asked

  private val opLabels = Set("similarity.topk_build", "similarity.topk_exec")

  def layers(traced: Seq[Int]): Map[String, Double] = {
    def a(i: Int) = tracer.agg(i)(opLabels)
    val writes = appendWrite.values.toSeq
    sparkLayer(traced, opLabels) ++ Map(
      "similarity.model_read_s" -> callMedian("similarity.model_read", traced),
      "similarity.topk_build_s" -> callMedian("similarity.topk_build", traced),
      "similarity.topk_exec_s" -> callMedian("similarity.topk_exec", traced),
      "similarity.rows_scanned_per_query" ->
        perOp(traced)(a(_).recordsRead.toDouble / Batch),
      "similarity.jobs" -> perOp(traced)(a(_).jobs.toDouble),
      "similarity.exec_cpu_s" -> perOp(traced)(a(_).cpuNs / 1e9),
      "similarity.append_s" ->
        (if (appendSeconds.isEmpty) 0.0 else Stats.median(appendSeconds.toSeq)),
      "similarity.append_mb_written_per_user_mb" ->
        (if (writes.isEmpty) 0.0 else writes.map(_._1).sum.toDouble / writes.map(_._2).sum),
      "similarity.index_build_s" -> buildSeconds,
      "similarity.blocks_left" -> blocksLeft.toDouble,
      "similarity.recall_at_10" -> recall)
  }
}

object AnnSearch {
  val Size = 8000
  val Cells = 16
  val Probes = 2
  val ScreenK = 50
  val K = 10
  val Batch = 16
  val AppendEvery = 4
  val Table = "ann_index"
  /** Query ids start far above any index id (the search skips a
    * neighbour whose id equals the query's).
    */
  val QueryIds = 1L << 40
}
