package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this object is the
  * one door graft opens to it (`graft.obs.Telemetry` drains through it). */
object ListenerBusDrain {
  /** Block until every queued listener event is delivered; throws
    * `TimeoutException` after 10 s. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
