package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus flush, which Spark keeps package-private.
  * Listener delivery is asynchronous; the tracer flushes after every
  * op so each op's events are complete before they are read.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
