package org.apache.spark

/** Blocks until every event posted on the SparkContext's listener bus so
  * far has been delivered to every listener. The bus is internal to Spark,
  * hence this one-line shim in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
