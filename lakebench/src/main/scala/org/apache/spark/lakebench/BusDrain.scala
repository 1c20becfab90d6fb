package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced run's totals include the last op's jobs and tasks. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
