package org.apache.spark

/** Blocks until every queued listener event has been delivered. Listener
  * events arrive asynchronously, so counters read right after an action
  * would otherwise miss that action's last tasks. (`listenerBus` is
  * package-private to Spark, hence this one-line shim's package.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
