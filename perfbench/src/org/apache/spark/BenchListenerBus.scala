package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so the traced window's Spark counters are complete. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
