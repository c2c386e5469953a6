package org.apache.spark

/** The one Spark-internal call the benchmark needs: draining the listener
  * bus, so every task, block and query-execution event of an op has been
  * delivered before the op's per-layer figures are read.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
