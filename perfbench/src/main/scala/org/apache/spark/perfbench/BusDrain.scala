package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the tracer needs it so
  * every event of an operation is delivered before the operation's
  * metrics are computed. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
