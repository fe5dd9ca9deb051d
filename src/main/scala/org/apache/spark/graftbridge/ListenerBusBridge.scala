package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Reaches `LiveListenerBus.waitUntilEmpty`, which is package-private to
  * `org.apache.spark`. Listener events are delivered asynchronously, so
  * code that reads a listener (or the status tracker, which is fed by
  * one) right after an action drains the bus first instead of sleeping. */
object ListenerBusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
