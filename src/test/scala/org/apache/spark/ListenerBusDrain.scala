package org.apache.spark

/** Test access to one `private[spark]` call: wait until every posted
  * listener event has been delivered, so a listener's counts are
  * complete when a test reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
