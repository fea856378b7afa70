package org.apache.spark

/** The listener bus is package-private; the tracer needs one call on it:
  * block until every posted event has reached every listener, so the
  * events of a span are all delivered before the span is closed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
