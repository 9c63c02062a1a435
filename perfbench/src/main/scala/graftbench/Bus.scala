package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered before it reads the listeners' totals. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
