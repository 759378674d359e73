package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark reads its
  * listener's counters only after the bus has delivered every event
  * posted so far. The bus is package-private to Spark, hence this
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
