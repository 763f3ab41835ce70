package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * counter read after a span ends includes all of that span's tasks.
  * The listener bus is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
