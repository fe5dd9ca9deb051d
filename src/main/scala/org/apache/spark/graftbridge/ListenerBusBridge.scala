package org.apache.spark.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext

/** Reaches `LiveListenerBus.waitUntilEmpty`, which is package-private to
  * `org.apache.spark`. Listener events are delivered asynchronously, so
  * code that reads a listener (or the status tracker, which is fed by
  * one) right after an action drains the bus first instead of sleeping. */
object ListenerBusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Listeners currently registered on the bus, over all its queues. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** The job tags in a job's local properties (empty when it has none). */
  def jobTags(properties: Properties): Set[String] =
    Option(properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
}
