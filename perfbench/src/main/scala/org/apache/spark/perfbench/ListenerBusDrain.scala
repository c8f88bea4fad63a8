package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * benchmark's job listener has seen every job an op ran before its
  * counters are read. The listener bus is Spark-internal, hence this
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
