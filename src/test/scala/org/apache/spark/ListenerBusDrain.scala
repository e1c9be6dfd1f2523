package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached its listeners, so status-tracker reads are up to date.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
