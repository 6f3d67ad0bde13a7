package org.apache.spark

/** Access to the listener bus, which is `private[spark]`: the tracer
  * must see every event of a call before it reduces the call's jobs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
