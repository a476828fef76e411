package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced run reads complete task and job counts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
