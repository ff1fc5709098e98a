package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private, so the
  * tracer can wait until every posted event has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
