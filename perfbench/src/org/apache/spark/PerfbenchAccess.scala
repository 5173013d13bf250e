package org.apache.spark

/** Reaches the one scheduler call the benchmark's tracer needs that Spark
  * keeps package-private: blocking until the listener bus has delivered
  * every posted event, so per-span counters are complete when read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
