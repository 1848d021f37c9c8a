package org.apache.spark

/** The listener bus is private to Spark; the harness needs to wait until
  * every event of a finished operation has reached its listeners before
  * it reads per-operation counts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
