package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-side access to the private listener bus: blocks until every
  * event posted so far has reached its listeners, so a job counter
  * read right after an action sees that action's jobs. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
