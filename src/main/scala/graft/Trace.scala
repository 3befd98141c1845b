package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.ListenerBridge
import scala.collection.mutable

/** Diagnostic main (not part of the bench contract): where a registry
  * query's time goes, on Bench's session and materialization. Per
  * named query: one cold run (first-touch cost: file listing, codegen,
  * AQE planning), then one warm run split into DataFrame construction
  * (eager work such as schema reads, training loops, probe collects),
  * Catalyst planning and execution. Prints one JSON record, a line per
  * job it launched (wall, stages, tasks) and per stage that ran (tasks,
  * executor run/CPU/deserialize time), then the formatted plan.
  *
  * {{{
  * sbt "runMain graft.Trace diff_flags graph_pagerank"
  * }}}
  * reads `SPARK_GRAFT_SF_DIR` (default sf0.1) like Bench.
  */
object Trace {
  final case class Job(id: Int, seconds: Double, stages: Int, tasks: Int)
  final case class Stage(id: Int, job: Int, tasks: Int, runS: Double,
      cpuS: Double, deserS: Double, name: String)

  /** Phase times in nanoseconds: build + plan + exec = wall. `plan` is
    * the warm run's formatted physical plan.
    */
  final case class Record(query: String, coldS: Double, buildNs: Long,
      planNs: Long, execNs: Long, wallNs: Long, jobs: Seq[Job],
      stages: Seq[Stage], plan: String) {

    def lines: Seq[String] =
      jobs.map(j => f"  job ${j.id}%4d ${j.seconds}%7.3f s " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d") ++
      stages.map(st => f"  stage ${st.id}%4d job=${st.job}%4d " +
        f"tasks=${st.tasks}%4d run=${st.runS}%7.3f cpu=${st.cpuS}%7.3f " +
        f"deser=${st.deserS}%6.3f ${st.name.take(60)}")

    def json: String = {
      def n(v: Double) = Runner.num(v, 3)
      s"""{"query":${Runner.jstr(query)},"cold_s":${n(coldS)},""" +
        s""""build_s":${n(buildNs / 1e9)},"plan_s":${n(planNs / 1e9)},""" +
        s""""exec_s":${n(execNs / 1e9)},"wall_s":${n(wallNs / 1e9)},""" +
        s""""jobs":${jobs.size},"stages":${stages.size},""" +
        s""""tasks":${stages.map(_.tasks).sum},""" +
        s""""exec_cpu_s":${n(stages.map(_.cpuS).sum)}}"""
    }
  }

  /** Jobs (id, wall ms, stage ids) and completed stages, as delivered. */
  private final class Collector extends SparkListener {
    private val started = mutable.Map.empty[Int, (Long, Seq[Int])]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { started(e.jobId) = (e.time, e.stageIds) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, ids) =>
        jobs += ((e.jobId, e.time - t0, ids))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += e.stageInfo }
  }

  /** Cold run, settle, then the traced warm run of `name`. */
  def trace(spark: SparkSession, sfDir: String, name: String): Record = {
    val cold = Runner.seconds(Runner.noop(Runner.query(spark, name, sfDir)))
    Runner.settle(spark)

    val sc = spark.sparkContext
    val c = new Collector
    sc.addSparkListener(c)
    val (t0, t1, t2, t3, plan) = try {
      val t0 = System.nanoTime()
      val df = Runner.query(spark, name, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // analysis, optimization, planning
      val t2 = System.nanoTime()
      Runner.noop(df)
      val t3 = System.nanoTime()
      (t0, t1, t2, t3, df.queryExecution.explainString(FormattedMode))
    } finally {
      ListenerBridge.drain(sc)
      sc.removeSparkListener(c)
    }

    c.synchronized {
      // a stage id can be listed by several jobs (a reused shuffle is
      // listed, and skipped, by later ones): it ran in the first
      val owner = (id: Int) =>
        c.jobs.collect { case (j, _, ids) if ids.contains(id) => j }
          .minOption.getOrElse(-1)
      val stages = c.stages.sortBy(_.stageId).toSeq.map { si =>
        val m = si.taskMetrics
        Stage(si.stageId, owner(si.stageId), si.numTasks,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
          m.executorDeserializeTime / 1e3, si.name)
      }
      val jobs = c.jobs.sortBy(_._1).toSeq.map { case (id, ms, _) =>
        val mine = stages.filter(_.job == id)
        Job(id, ms / 1e3, mine.size, mine.map(_.tasks).sum)
      }
      Record(name, cold, t1 - t0, t2 - t1, t3 - t2, t3 - t0, jobs, stages,
        plan)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Runner.sfDir
    val spark = Runner.session()
    args.foreach { name =>
      println(s"===== $name =====")
      Runner.step(spark)(trace(spark, sfDir, name)).fold(
        e => println(s"TRACE $name failed: $e"),
        r => (r.json +: r.lines :+ r.plan).foreach(println))
    }
    spark.stop()
  }
}
