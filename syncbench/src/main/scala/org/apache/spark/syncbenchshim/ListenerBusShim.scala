package org.apache.spark.syncbenchshim

import org.apache.spark.SparkContext

/** Access to Spark's package-private listener bus: the traced run drains
  * it before reading its job counters, so every event of a finished span
  * has been delivered. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
