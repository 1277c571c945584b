package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete before a test reads them.
  * (`listenerBus` is package-private to `org.apache.spark`.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
