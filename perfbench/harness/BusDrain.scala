package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so
  * the counters a span reads after its call include all of that call's
  * task and query events (`waitUntilEmpty` is `private[spark]`).
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
