package org.apache.spark

/** Lets a spec wait until Spark's listener bus has delivered every
  * event posted so far, so a listener's counts are complete before they
  * are read. The bus is Spark-private, hence the package. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
