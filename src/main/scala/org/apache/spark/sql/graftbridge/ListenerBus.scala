package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Here for the private[spark] `listenerBus`: an action returns before
  * the bus has delivered its stage-completed and task-end events. */
object ListenerBus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
