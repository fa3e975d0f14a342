package org.apache.spark

/** Forwarder into Spark's package-private listener bus: per-query listener
  * counts are read only after every event of that query has been
  * delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
