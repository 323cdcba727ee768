package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so a
  * tracer can attribute asynchronous listener callbacks to the span
  * that caused them. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
