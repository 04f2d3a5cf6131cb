package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered. The listener
  * bus is `private[spark]`, hence this one-line bridge in Spark's namespace.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
