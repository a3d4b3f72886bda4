package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
