package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the package-private listener bus so the benchmark can wait until
  * every posted event has been delivered before it reads traced counters —
  * a deterministic drain instead of sleeping and hoping. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
