package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * counters read after a pass include all of that pass's tasks. The
  * listener bus is package-private, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
