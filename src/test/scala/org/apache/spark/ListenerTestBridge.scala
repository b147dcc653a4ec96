package org.apache.spark

/** Test-only bridge: `SparkContext.listenerBus` is `private[spark]`,
  * but a spec counting jobs must see every event a block posted before
  * it reads the count (delivery is asynchronous).
  */
object ListenerTestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
