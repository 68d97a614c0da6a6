package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * `LiveListenerBus.waitUntilEmpty` is Spark-private, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
