package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this bridge lives in Spark's
  * package only to reach `waitUntilEmpty`, which throws a
  * TimeoutException when the queues do not drain in time.
  */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
