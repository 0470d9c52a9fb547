package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so
  * listener-side counters are complete when a spec reads them. The
  * bus's wait is private to the spark package.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
