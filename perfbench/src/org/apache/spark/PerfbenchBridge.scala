package org.apache.spark

/** Reaches the listener bus, which is private to Spark: the harness waits
  * for every queued event before it reads listener-collected metrics. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
