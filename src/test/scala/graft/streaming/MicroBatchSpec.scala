package graft.streaming

import graft.SparkTestSession
import graft.dedup.{BlockingEval, MinHashLSH}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

/** [[MicroBatch]]: a running-state monitor folds a batch Spark replays
  * after a restart exactly once, and a [[MicroBatch.Standing]]
  * maintainer keeps only its current checkpoint generation alive,
  * never the caller's initial frames.
  */
class MicroBatchSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mb_").toFile
    try f(dir.getAbsolutePath) finally rmrf(dir)
  }
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  /** Batch 0 runs; batch 1's `onBatch` throws, failing the query; the
    * SAME writer restarts from its checkpoint, so Spark re-runs batch 1
    * under id 1; then batch 2 runs.
    */
  private def runWithReplay[A](w: DataStreamWriter[Row],
      stream: MemoryStream[A], batches: Seq[Seq[A]]): Unit = {
    val Seq(b0, b1, b2) = batches
    val first = w.start()
    try {
      stream.addData(b0); first.processAllAvailable()
      stream.addData(b1)
      intercept[StreamingQueryException](first.processAllAvailable())
    } finally first.stop()
    val again = w.start()
    try {
      again.processAllAvailable()
      stream.addData(b2); again.processAllAvailable()
    } finally again.stop()
  }

  /** An `onBatch` wrapper that throws once, on batch 1. */
  private final class FailOnce {
    private var armed = true
    var seen = Vector.empty[Long]
    def apply(batchId: Long): Unit = {
      seen :+= batchId
      if (batchId == 1L && armed) {
        armed = false
        throw new IllegalStateException("onBatch failed on batch 1")
      }
    }
  }

  test("CovMonitor restarted from its checkpoint folds the replayed batch once") {
    withDir { dir =>
      val bs = Seq(
        Seq(Seq(1f, 2f, 0.5f), Seq(0.25f, -1f, 0.75f)),
        Seq(Seq(-0.5f, 0.125f, 1f)),
        Seq(Seq(2f, 1f, -1f)))
      val stream = MemoryStream[Seq[Float]](spark)
      val fail = new FailOnce
      var running = Map.empty[(Int, Int), CovMonitor.CellState]
      val w = CovMonitor.monitor(stream.toDF().toDF("embedding"),
          baseline = Map.empty, vecCol = "embedding") { (id, _, r) =>
          fail(id); running = r
        }
        .option("checkpointLocation", s"$dir/ck")
      runWithReplay(w, stream, bs)
      assert(running === CovMonitor.state(bs.flatten.toDF("embedding"),
        "embedding"))
      // batch 1's fold ran once; its replay never reached onBatch
      assert(fail.seen === Vector(0L, 1L, 2L))
    }
  }

  test("BlockingMonitor restarted from its checkpoint folds the replayed batch once") {
    withDir { dir =>
      val base = "the quick brown fox jumps over the lazy dog " +
        "near the riverbank today"
      val bs = Seq(
        Seq(1L -> base, 2L -> (base + " extra")),
        Seq(3L -> (base + " again")),
        Seq(4L -> ("completely different words about spark engines and " +
          "distributed shuffles in production pipelines")))
      val cfg = MinHashLSH.Config()
      val stream = MemoryStream[(Long, String)](spark)
      val fail = new FailOnce
      var running = BlockingMonitor.BlockState(0L, 0L, 0L, 0L, 0L)
      val w = BlockingMonitor.monitor(stream.toDF().toDF("doc_id", "text"),
          "doc_id", "text", 100L, cfg) { (id, s) => fail(id); running = s }
        .option("checkpointLocation", s"$dir/ck")
      runWithReplay(w, stream, bs)
      val want = BlockingEval.eval(bs.flatten.toDF("doc_id", "text"),
          "doc_id", "text", 100L, cfg)
        .collect().head
      assert(running === BlockingMonitor.BlockState(
        want.getAs[Long]("n_docs"), want.getAs[Long]("n_cand"),
        want.getAs[Long]("n_truth"), want.getAs[Long]("n_hit"),
        want.getAs[Long]("n_cand_s")))
      assert(running.nDocs === 4L)
      assert(fail.seen === Vector(0L, 1L, 2L))
    }
  }

  /** Ids of the persisted RDDs that back local checkpoints. */
  private def checkpointRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.isCheckpointed => id
    }.toSet

  test("scd2 stream keeps only its current history generation, never the initial frame") {
    import graft.operators.Scd2
    val before = checkpointRdds()
    val initial = Scd2.initHistory(
        Seq((1L, "alice", "US"), (2L, "bob", "DE")).toDF("id", "name", "country"),
        0L)
      .localCheckpoint(true)
    val boot = checkpointRdds() -- before
    assert(boot.nonEmpty)
    val holder = new Scd2Stream.HistoryHolder(initial)
    val stream = MemoryStream[(Long, String, String, Boolean)](spark)
    val q = Scd2Stream.maintain(
        stream.toDF().toDF("id", "name", "country", "is_delete"),
        holder, Seq("id"), Some("is_delete"), bid => (bid + 1) * 100)
      .start()
    try {
      Seq(Seq((2L, "bob", "CH", false)), Seq((3L, "carol", "FR", false)),
          Seq((1L, "alice", "US", true))).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val live = checkpointRdds() -- before
    assert(boot.subsetOf(live), "the caller's initial frame was released")
    assert((live -- boot).size === 1,
      s"expected one live history generation, found ${live -- boot}")
    // that one is the current history's: releasing it leaves the boot
    assert(holder.history.count() === 4L)
    CheckpointBridge.release(holder.history)
    assert(checkpointRdds() -- before === boot)
    assert(initial.count() === 2L)
  }

  test("graph ingest keeps only its current graph and corpus generations, never the bootstrap") {
    import graft.similarity.{GraphIngest, KnnGraph}
    val before = checkpointRdds()
    val corpus = Seq(
        0L -> Seq(1f, 0f, 0f), 1L -> Seq(0.9f, 0.1f, 0f),
        2L -> Seq(0f, 1f, 0f), 3L -> Seq(0f, 0.95f, 0.05f))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val cents = GraphIngest.strideCentroids(corpus, "vec_id", "embedding", 2)
      .localCheckpoint(true)
    val graph = KnnGraph.buildWithCentroids(corpus, "vec_id", "embedding",
      2, cents).localCheckpoint(true)
    val boot = checkpointRdds() -- before
    assert(boot.size >= 3)
    val persistedAtBoot = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val holder = new GraphIngestStream.GraphHolder(corpus, graph)
    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val q = GraphIngestStream.maintain(
        stream.toDF().toDF("vec_id", "embedding"), holder,
        "vec_id", "embedding", 2, cents)
      .start()
    try {
      Seq(10L -> Seq(0.95f, 0.05f, 0f), 11L -> Seq(0f, 0.9f, 0.1f),
          12L -> Seq(0.5f, 0.5f, 0f)).foreach { v =>
        stream.addData(Seq(v)); q.processAllAvailable()
      }
    } finally q.stop()
    val live = checkpointRdds() -- before
    assert(boot.subsetOf(live), "the caller's bootstrap frames were released")
    assert((live -- boot).size === 2,
      s"expected one live graph + one live corpus generation, found ${live -- boot}")
    // the merges cached nothing: the only RDDs persisted since the
    // bootstrap are those two generations
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet --
      persistedAtBoot === live -- boot)
    assert(holder.corpus.count() === 7L)
    Seq(holder.graph, holder.corpus).foreach(CheckpointBridge.release)
    assert(checkpointRdds() -- before === boot)
    assert(corpus.count() === 4L && graph.count() > 0L)
  }

  test("each skips empty micro-batches; mergeKeyed merges shared keys with f") {
    val stream = MemoryStream[Long](spark)
    var seen = Vector.empty[(Long, Long)]
    val q = MicroBatch.each(stream.toDF()) { (id, b) =>
      seen :+= id -> b.count()
    }.start()
    try {
      stream.addData(1L, 2L); q.processAllAvailable()
      stream.addData(Seq.empty[Long]); q.processAllAvailable()
      stream.addData(3L); q.processAllAvailable()
    } finally q.stop()
    // batch 1 carried no rows and never reached the body
    assert(seen === Vector(0L -> 2L, 2L -> 1L))
    assert(MicroBatch.mergeKeyed(Map("a" -> 1, "b" -> 2),
      Map("b" -> 10, "c" -> 3))(_ - _) === Map("a" -> 1, "b" -> -8, "c" -> 3))
  }
}
