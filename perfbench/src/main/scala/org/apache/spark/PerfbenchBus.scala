package org.apache.spark

/** Lets the benchmark's tracer wait until every posted listener event has
  * been delivered, so the spans of one operation are complete before the
  * next begins. The listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
