package org.apache.spark

/** The one private Spark API the traced run needs: waiting until the
  * listener bus has delivered every event posted so far, so per-layer
  * metrics are read only after all of a run's events arrived.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
