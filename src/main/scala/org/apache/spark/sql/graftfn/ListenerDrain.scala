package org.apache.spark.sql.graftfn

import org.apache.spark.SparkContext

/** Blocks until every SparkListener has seen every event posted so far,
  * so counts a listener keeps are complete when read. Lives in this
  * package for `private[spark]` access to the listener bus.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
