package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps the listener bus package-private; the traced run needs to
  * wait until every posted event has been delivered before it reads the
  * listeners' totals for a span.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
