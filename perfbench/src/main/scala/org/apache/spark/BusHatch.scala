package org.apache.spark

/** The listener bus is private[spark]; the tracer drains it once a run
  * ends so every job, task and query-execution event has been delivered
  * before the per-layer table is built. */
object BusHatch {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
