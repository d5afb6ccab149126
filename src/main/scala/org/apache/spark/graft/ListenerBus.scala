package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps `SparkContext.listenerBus` `private[spark]`; this object
  * lives under that package so a profiling tool can wait until every posted
  * listener event has been delivered before it reads what its listener
  * collected. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
