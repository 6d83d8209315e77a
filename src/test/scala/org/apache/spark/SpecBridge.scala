package org.apache.spark

/** The one private Spark API the specs need: waiting until the listener
  * bus has delivered every event posted so far, so listener-collected
  * counts are read only after all of them arrived.
  */
object SpecBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
