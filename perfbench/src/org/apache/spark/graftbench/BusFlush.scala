package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered.
  *
  * Listener events are posted asynchronously, so a counter read right
  * after a call returns can miss that call's last task-end events. The
  * traced run flushes the bus at each span boundary so a span's counters
  * cover exactly the work inside it. `listenerBus` is `private[spark]`,
  * hence this object's package.
  */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
