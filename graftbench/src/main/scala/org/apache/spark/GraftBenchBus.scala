package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered
  * every event posted so far, so a traced run's counters are complete
  * before they are read. The bus is Spark-private, hence the package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
