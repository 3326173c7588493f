package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so listener totals read after a query
  * include every event that query posted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
