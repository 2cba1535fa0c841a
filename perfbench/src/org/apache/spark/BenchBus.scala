package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counters read after an action include that action's tasks. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
