package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-span job and task counters are complete when a
  * span closes. The bus's wait is private to the spark package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
