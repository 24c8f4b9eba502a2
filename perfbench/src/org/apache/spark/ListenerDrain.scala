package org.apache.spark

/** Waits until every queued listener event has been delivered, so
  * counters read afterwards include the jobs that just finished (the
  * bus is private to Spark's package). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
