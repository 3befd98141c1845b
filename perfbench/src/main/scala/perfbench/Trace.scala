package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one label (one wrapped public call). */
final class Agg {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, taskWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, recordsRead, bytesWritten = 0L

  def +=(o: Agg): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; taskWaitMs += o.taskWaitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten
    this
  }
}

/** Aggregates jobs, stages and tasks per job description. The driver
  * sets the description to `<layer>.<phase>#<op>` around each public
  * call, so every stage and task is charged to the call that caused it.
  */
final class LabelListener extends SparkListener {
  private val stageLabel = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val byLabel = mutable.Map.empty[String, Agg]

  private def labelOf(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
      .getOrElse("unlabelled")

  private def agg(label: String): Agg = byLabel.getOrElseUpdate(label, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = labelOf(e.properties)
    agg(l).jobs += 1
    e.stageInfos.foreach(s => stageLabel.getOrElseUpdate(s.stageId, l))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      val l = labelOf(e.properties)
      stageLabel(id) = l
      stageSubmit(id) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      agg(l).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageLabel.getOrElse(e.stageId, "unlabelled"))
    a.tasks += 1
    if (e.taskInfo.failed) a.failedTasks += 1
    a.taskWaitMs += e.taskInfo.launchTime -
      stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Sum over the labels `<name>#<op>` that `keep` accepts. */
  def sum(keep: (String, Int) => Boolean): Agg = synchronized {
    val out = new Agg
    byLabel.foreach { case (label, a) =>
      label.split('#') match {
        case Array(name, op) if op.nonEmpty && op.forall(_.isDigit) &&
            keep(name, op.toInt) => out += a
        case _ =>
      }
    }
    out
  }
}

/** A timed interval around one call into a layer. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int)

/** Times calls into the library. With tracing on it also labels their
  * Spark jobs, keeps spans in memory, and aggregates the listener per
  * label; with tracing off it only reads the clock.
  */
final class Tracer(sc: SparkContext) {
  private var listener: Option[LabelListener] = None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def on: Boolean = listener.isDefined

  def start(): Unit = if (listener.isEmpty) {
    val l = new LabelListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  /** Runs `body`; returns its result and wall seconds. */
  def timed[T](name: String, op: Int)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!on) {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$name#$op")
      stack = id :: stack
      try {
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      } finally {
        stack = stack.tail
        sc.setJobDescription(prev)
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }
  }

  /** Listener sums for the given op over labels whose name `keep`
    * accepts; empty when tracing is off. Drains the event bus first.
    */
  def agg(op: Int)(keep: String => Boolean): Agg = listener.fold(new Agg) { l =>
    BenchBus.drain(sc)
    l.sum((name, o) => o == op && keep(name))
  }

  /** Spans of the traced phase as a JSON array (times in seconds from
    * the first span).
    */
  def spansJson: String = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    spans.sortBy(_.id).map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "parent" -> s.parent.toString, "op" -> s.op.toString))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** JVM, codegen and block-manager readings. */
object Probe {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Live heap after a full collection, in MB. Collects three times with
    * pauses between, so Spark's ContextCleaner has dropped the blocks of
    * broadcasts and RDDs the first collection found unreachable; without
    * the pauses the reading depends on how far that cleaner had got.
    */
  def heapLiveMb: Double = {
    System.gc(); Thread.sleep(500)
    System.gc(); Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  def codegenSeconds: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1e9

  /** Cached RDD blocks still held by the block manager. */
  def blocksLeft(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  def sinceStartSeconds: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
