package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain: listeners receive
  * events asynchronously, so a listener's totals for an action are only
  * complete once every event posted before the action returned has been
  * delivered. Like the other bridges, this exists for that one call. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
