package org.apache.spark

/** Waits until every posted listener event has been delivered. Spark
  * keeps its listener bus package-private; specs that count actions
  * with a listener drain it so no event of the measured block is late.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
