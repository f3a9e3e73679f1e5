package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-span task counts are complete before they are read.
  * `listenerBus` is package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
