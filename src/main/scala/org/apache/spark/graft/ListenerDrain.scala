package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Reaches the package-private listener bus so a profiling tool can wait
  * until every posted event has been delivered before it reads what its
  * listeners recorded: a deterministic drain instead of a sleep. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
