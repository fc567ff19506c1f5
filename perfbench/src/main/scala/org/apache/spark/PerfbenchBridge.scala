package org.apache.spark

/** The one Spark-internal the harness needs: listener events are
  * delivered asynchronously, so counters are read only after the bus
  * has delivered every event posted so far. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
