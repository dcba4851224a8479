package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the benchmark reads complete task and query metrics after an action.
  * (The listener bus is internal to Spark; this is its only use.)
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
