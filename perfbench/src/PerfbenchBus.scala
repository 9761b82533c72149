package org.apache.spark

/** The listener bus drain is private to Spark; the benchmark needs it so
  * counters are complete before a pass's spans are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
