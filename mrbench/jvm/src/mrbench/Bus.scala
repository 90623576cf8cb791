package org.apache.spark.mrbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners hold the whole run before they are read. The
  * listener bus is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
