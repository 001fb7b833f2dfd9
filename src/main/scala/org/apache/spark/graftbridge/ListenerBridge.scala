package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Same access-bridge pattern as sql.graftbridge.ColumnBridge: the
  * listener bus is private[spark], but graft.engine.QueryProfile must
  * DRAIN it before reading its counters — event delivery is async and the
  * last tasks' metrics would otherwise race the read. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
