package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * traced operation's job, stage and task events are all recorded before
  * the next operation starts. `listenerBus` is private[spark], hence this
  * one-file shim inside the org.apache.spark package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
