package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted
  * so far has been delivered (the bus is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
