package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so that a
  * traced query's listener readings are complete before they are summed.
  * (`listenerBus` is package-private to `org.apache.spark`.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
