package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event
  * (the listener bus is package-private to Spark). */
object CatbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
