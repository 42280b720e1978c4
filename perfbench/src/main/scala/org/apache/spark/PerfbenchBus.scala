package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener counts are complete when a phase is read out.
  * Lives in Spark's package because the listener bus is Spark-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
