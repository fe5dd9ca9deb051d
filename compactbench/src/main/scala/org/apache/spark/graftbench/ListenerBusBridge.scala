package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches `LiveListenerBus.waitUntilEmpty`, which is package-private to
  * `org.apache.spark`. Listener events are delivered asynchronously, so a
  * count read right after an action can miss that action's last events;
  * draining the bus first makes the count complete without guessing a
  * sleep. */
object ListenerBusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
