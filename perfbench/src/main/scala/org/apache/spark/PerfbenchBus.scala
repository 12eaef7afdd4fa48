package org.apache.spark

/** Listener-bus drain for the benchmark's trace listener. `listenerBus` is
  * package-private to Spark, hence this one-line bridge in its package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
