package org.apache.spark

/** The listener bus is package-private; the tracer drains it before it
  * reads what its listener has collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
