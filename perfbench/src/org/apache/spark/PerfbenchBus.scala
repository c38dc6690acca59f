package org.apache.spark

/** Waits until every posted listener event has been delivered, so that a
  * traced span's engine counters are complete before they are read.
  * (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
