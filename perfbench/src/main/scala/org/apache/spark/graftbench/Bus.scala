package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so
  * a traced span's task metrics are complete before they are summed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
