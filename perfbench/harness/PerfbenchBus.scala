package org.apache.spark

/** The listener bus is asynchronous; its drain call is package-private,
  * so this one accessor lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
