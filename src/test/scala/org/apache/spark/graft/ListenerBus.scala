package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; specs that count listener
  * events drain it first, so every event posted so far has reached its
  * listeners.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
