package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** The listener-bus flush Spark keeps package-private. Listener
  * delivery is asynchronous: a test that counts jobs or reads executed
  * plans from listeners flushes the bus before reading them.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
