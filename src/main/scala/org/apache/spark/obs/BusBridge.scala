package org.apache.spark.obs

/** `LiveListenerBus.waitUntilEmpty` is private[spark]; graft.obs drains through here. */
object BusBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
