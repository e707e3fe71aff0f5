package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a reader of listener
  * totals must wait until every event of the finished action has arrived.
  * `listenerBus` is package-private to Spark, hence this shim's package. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
