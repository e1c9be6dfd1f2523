package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * posted event, so span counters are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
