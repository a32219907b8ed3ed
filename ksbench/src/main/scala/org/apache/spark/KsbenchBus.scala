package org.apache.spark

/** Lets the benchmark wait until every listener has seen every event posted
  * so far, so job and phase records are complete before they are read.
  */
object KsbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
