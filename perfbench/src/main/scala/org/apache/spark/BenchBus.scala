package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the recorders read complete numbers. The listener bus is internal to
  * Spark; this is the one place the benchmark reaches it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
