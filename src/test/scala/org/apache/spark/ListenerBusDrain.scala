package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * job count read right after an action is final.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
