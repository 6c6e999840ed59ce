package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so that
  * per-span figures are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
