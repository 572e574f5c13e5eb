package org.apache.spark

/** Waits until every event posted so far reached the listeners, so a
  * test's job count is complete. The listener bus is Spark-internal,
  * hence this package. */
object TestListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
