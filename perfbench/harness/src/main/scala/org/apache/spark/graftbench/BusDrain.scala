package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * recorded jobs and micro-batches are complete before they are written.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
