package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the SparkContext's listener bus, which is `private[spark]`. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
