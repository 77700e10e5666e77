package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until the listener bus has delivered every posted event, so the
  * trace's counters are complete before they are read. Lives in Spark's
  * package because the bus is `private[spark]`. */
object ListenerDrain {
  def apply(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()
}
