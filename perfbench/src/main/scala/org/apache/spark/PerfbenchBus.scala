package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered
  * every event of an operation before it reads the counters. The bus is
  * private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
