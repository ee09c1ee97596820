package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * closed-loop client can attribute listener counters to the op that
  * caused them before it starts the next op. The bus is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
