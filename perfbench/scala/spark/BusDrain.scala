package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * counter snapshot taken at a span boundary includes the events of the
  * jobs that ran inside the span. `listenerBus` is `private[spark]`,
  * hence this one-method shim in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
