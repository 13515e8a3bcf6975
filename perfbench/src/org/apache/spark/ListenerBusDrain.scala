package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * per-task counters and block-status updates are complete before the
  * benchmark reads them. The bus is `private[spark]`, hence the package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
