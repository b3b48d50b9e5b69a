package org.apache.spark

/** Package-private SparkContext access the tracer needs: listener
  * events arrive asynchronously, so a cycle's counters are read only
  * after the bus has delivered every event posted during the cycle. */
object PerfBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
