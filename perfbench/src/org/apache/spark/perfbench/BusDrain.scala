package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted to the listener bus so far has been
  * delivered to every listener. `listenerBus` is private to the spark
  * package, hence this shim. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
