package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener has seen every event posted so far — the
  * bus is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
