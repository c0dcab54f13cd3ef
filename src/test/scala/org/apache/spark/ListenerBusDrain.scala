package org.apache.spark

/** Listener events reach listeners asynchronously; a spec that counts
  * jobs reads its counters only after every event posted so far has been
  * delivered. The bus that can wait for that is package-private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
