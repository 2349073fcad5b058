package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so that counters read after an operation hold all of its events. The
  * listener bus is private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
