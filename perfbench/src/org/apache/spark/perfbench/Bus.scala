package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass is aggregated only after all of its job, stage, task and
  * query-execution events have arrived. Lives in Spark's package because
  * the bus is `private[spark]`.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
