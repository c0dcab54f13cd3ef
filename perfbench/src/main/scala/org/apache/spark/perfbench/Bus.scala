package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The benchmark reads
  * its counters only after every event posted so far has been delivered;
  * the bus that can wait for that is package-private to Spark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
