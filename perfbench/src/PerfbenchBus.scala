package org.apache.spark

/** The listener bus is Spark-internal; this is the one call the benchmark
  * needs from it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
