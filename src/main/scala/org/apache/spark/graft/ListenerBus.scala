package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Exact listener-bus drain. `SparkContext.listenerBus` is
  * `private[spark]`, so this shim sits inside the `org.apache.spark`
  * package hierarchy (the same pattern as `org.apache.spark.sql.graft.Bridge`):
  * it returns once every event posted so far has reached every listener,
  * which a fixed sleep or a settle-poll can only approximate. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
