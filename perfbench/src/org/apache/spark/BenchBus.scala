package org.apache.spark

/** Listener events are delivered asynchronously; the meter drains the bus
  * before it reads its counters, so every task of a finished action is
  * counted in the span that ran it. The drain is package-private in Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
