package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a job's task and stage events are
  * still queued when the action returns. The census reads its counters
  * only after the queue is empty, so an execution's events are never
  * booked to the next one. `waitUntilEmpty` is Spark-internal, hence
  * this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
