package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so task-metric sums read after an action are complete. The
  * listener bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
