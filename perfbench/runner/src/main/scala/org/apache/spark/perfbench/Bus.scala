package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus operations the trace needs that Spark keeps
  * package-private: posting a marker event in order with the
  * scheduler's own events, and waiting until every posted event has
  * been delivered. */
object Bus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
