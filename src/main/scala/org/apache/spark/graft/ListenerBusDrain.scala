package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; living under
  * `org.apache.spark` lets a main wait for every posted event to reach
  * its listeners instead of polling. Throws if the bus is still busy
  * after a minute. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
