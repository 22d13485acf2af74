package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the traced run reads complete counters at a span's end. The listener
  * bus is package-private in Spark; this is the one call reaching it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
