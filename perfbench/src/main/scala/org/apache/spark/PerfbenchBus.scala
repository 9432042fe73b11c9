package org.apache.spark

/** The listener bus is internal to Spark; the benchmark needs to wait
  * for it to deliver every event of an operation before reading its
  * listener, so this one call lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
