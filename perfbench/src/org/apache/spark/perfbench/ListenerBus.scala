package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the Spark-private listener bus: the trace collector drains it
  * at every call boundary, so each event is attributed to the call that
  * caused it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
