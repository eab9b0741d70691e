package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test-side access to the `private[spark]` listener bus. */
object ListenerBusBridge {

  /** block until every event posted so far has reached its listeners */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
