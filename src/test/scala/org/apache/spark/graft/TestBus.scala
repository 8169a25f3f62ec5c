package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: block until every posted event has
  * reached the listeners, so a test listener's counts are final. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
