package org.apache.spark.rpabench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; the traced run needs it so
  * that every job and task event of a timed window has been delivered
  * before the window is summarized. */
object BusShim {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
