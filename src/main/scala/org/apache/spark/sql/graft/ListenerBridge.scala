package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus: waits until every
  * event posted so far has reached the listeners, so a trace read
  * right after its query is complete ([[graft.Trace]]).
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
