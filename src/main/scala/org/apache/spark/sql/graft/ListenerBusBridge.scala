package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus: a listener scoped to
  * a window reads complete numbers only after every event posted inside
  * that window has been delivered.
  */
object ListenerBusBridge {
  /** Blocks until every event posted so far has reached its listeners
    * (Spark's own 10 s timeout, then `TimeoutException`).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
