package org.apache.spark

/** Lets a suite wait until its listeners have seen every event (the
  * listener bus is package-private to Spark). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
