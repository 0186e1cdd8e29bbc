package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. `waitUntilEmpty` is
  * package-private to Spark, so this shim lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
