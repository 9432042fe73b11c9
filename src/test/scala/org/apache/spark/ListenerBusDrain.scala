package org.apache.spark

/** The listener bus is internal to Spark; specs that read a listener
  * wait for it to deliver every event posted so far, so this one call
  * lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
