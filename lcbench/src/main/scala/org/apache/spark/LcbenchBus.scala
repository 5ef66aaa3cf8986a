package org.apache.spark

/** Waits until every listener event posted so far has been delivered. The
  * listener bus is private to Spark; the benchmark needs it drained before
  * it reads the counters its listeners keep. */
object LcbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
