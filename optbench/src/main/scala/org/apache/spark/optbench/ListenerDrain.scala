package org.apache.spark.optbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far reached the listeners. The
  * listener bus is Spark-internal, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
