package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; living in this
  * package lets the harness drain the bus instead of sleeping. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
