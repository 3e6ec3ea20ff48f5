package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a run's Spark counters
  * are only complete once the bus has drained. `waitUntilEmpty` is
  * package-private to `org.apache.spark`, hence this one-method bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
