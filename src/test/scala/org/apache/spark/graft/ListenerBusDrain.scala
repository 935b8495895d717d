package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * spec's listener has seen all jobs of the actions it ran
  * (`listenerBus` is `private[spark]`).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
