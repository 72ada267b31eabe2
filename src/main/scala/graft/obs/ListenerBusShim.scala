package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Listener-bus bridge: `SparkContext.listenerBus` is `private[spark]`
  * (the same pattern as `org.apache.spark.sql.graftshim.GraftSession`).
  */
object ListenerBus {

  /** Returns once every listener has handled every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
