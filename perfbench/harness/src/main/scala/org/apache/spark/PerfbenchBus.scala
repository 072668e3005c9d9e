package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so span counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
