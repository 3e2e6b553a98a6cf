package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the traced run reads its listener
  * counters only after this returns, so an operation's stages, jobs and
  * query-planning phases are attributed to that operation and no other.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
