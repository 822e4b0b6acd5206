package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Minimal bridge into `private[spark]` surface (same pattern as
  * `org.apache.spark.sql.graft.ColumnBridge`): a listener-counting
  * spec (TablesSchemaSpec) must drain the async listener bus before
  * reading its counts, or events posted after the last action are lost.
  */
object ListenerBridge {
  def waitUntilListenersProcessed(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
