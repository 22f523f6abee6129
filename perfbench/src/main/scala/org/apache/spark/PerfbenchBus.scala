package org.apache.spark

/** The listener bus is package-private to Spark; the trace needs one call
  * on it (wait for delivery) so a layer's counters are complete before
  * they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
