package org.apache.spark

/** Waits until every posted listener event has been delivered, so that
  * the status store has counted every job an action ran before a test
  * reads `statusTracker`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
