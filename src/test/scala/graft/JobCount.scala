package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBridge

/** What one block started on the session's SparkContext: Spark jobs,
  * and root SQL executions (a nested execution is not counted).
  */
final class JobCount extends SparkListener {
  @volatile var jobs = 0
  @volatile var rootExecutions = 0
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) =>
      rootExecutions += 1
    case _ =>
  }
}

object JobCount {

  /** Run `body` under a fresh counter. The listener bus is drained
    * before the counter is added and again before it is read, so no
    * earlier event reaches it and every event of `body` does.
    */
  def of[T](spark: SparkSession)(body: => T): (T, JobCount) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val c = new JobCount
    sc.addSparkListener(c)
    try { val r = body; ListenerBridge.drain(sc); (r, c) }
    finally sc.removeSparkListener(c)
  }

  /** The Spark jobs `body` starts. */
  def jobs(spark: SparkSession)(body: => Any): Int = of(spark)(body)._2.jobs
}
