package org.apache.spark

/** Access to the `private[spark]` listener bus, so a trace can wait for
  * every posted event instead of sleeping.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
