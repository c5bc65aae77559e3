package org.apache.spark

/** The listener bus is `private[spark]`; the harness waits for it to
  * empty before it writes out the Spark counters of a traced run. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
