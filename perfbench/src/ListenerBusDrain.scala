package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * listener bus is `private[spark]`; the benchmark drains it before it
  * reads its own listeners, so no job or plan event is still in flight. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
