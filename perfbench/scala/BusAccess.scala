package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * tracer can wait until every posted event has been delivered. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
