package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so counters read after an operation are complete. The
  * bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
