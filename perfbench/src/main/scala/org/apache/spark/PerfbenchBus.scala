package org.apache.spark

/** Listener-bus drain for the benchmark's tracer: the bus is private to
  * Spark, so reading span counts only after every posted event has been
  * delivered needs this one accessor inside Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
