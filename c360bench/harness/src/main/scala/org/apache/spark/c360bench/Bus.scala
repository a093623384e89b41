package org.apache.spark.c360bench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so that a listener's totals
  * read after an operation include every event that operation posted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
