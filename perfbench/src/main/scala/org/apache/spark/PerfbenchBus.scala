package org.apache.spark

/** Access to the `private[spark]` listener bus: a span must see every
 * event its jobs posted before it closes, so the tracer drains the bus at
 * span boundaries. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
