package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event (the bus's drain is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
