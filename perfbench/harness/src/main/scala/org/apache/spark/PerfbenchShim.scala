package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer drains it at span boundaries so every event lands in the span
  * that caused it.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
