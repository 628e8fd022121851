package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * per-pass or per-query window read from a listener is complete. The bus is
  * package-private in Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
