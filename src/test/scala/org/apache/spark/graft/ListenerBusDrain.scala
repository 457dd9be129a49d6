package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; specs that count jobs or task
  * metrics drain it so that every event an action posted has reached
  * their listener before they read it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
