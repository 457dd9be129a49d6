package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the one call the
  * benchmark needs from it. Draining after an operation makes every event
  * that operation posted (task ends, SQL execution ends) reach the
  * benchmark's listeners before the operation's counters are read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
