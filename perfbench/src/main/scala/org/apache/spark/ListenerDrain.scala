package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * `LiveListenerBus.waitUntilEmpty` is package-private; the benchmark reads
  * its listener's totals right after an action returns, so it needs the
  * drain to attribute the action's task metrics completely.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
