package org.apache.spark

/** Listener events are delivered asynchronously; the probe reads its
  * counters only after the bus has delivered everything posted so far. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
