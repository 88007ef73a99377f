package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's private listener bus: the benchmark drains it before
  * reading what its listener recorded. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
