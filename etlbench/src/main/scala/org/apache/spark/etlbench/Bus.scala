package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; living in its package lets the
  * tracer wait for every event already posted before it reads totals. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
