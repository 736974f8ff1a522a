package org.apache.spark

/** Access to the driver's listener bus, which is `private[spark]`:
  * draining it makes listener counters deterministic, where a fixed
  * sleep races on a loaded host. */
object ListenerBusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
