package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners have seen all of an action's events before it
  * reads them. The bus is private to Spark; hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
