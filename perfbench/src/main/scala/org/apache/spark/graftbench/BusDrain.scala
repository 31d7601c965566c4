package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits for the listener bus to empty (its drain call is
  * package-private to Spark, hence this package).
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
