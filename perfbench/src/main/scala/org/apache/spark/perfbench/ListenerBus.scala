package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus, so a traced run can wait
  * until every event posted so far has reached its listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
