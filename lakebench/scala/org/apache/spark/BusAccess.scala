package org.apache.spark

/** Drains Spark's listener bus, so that every event posted so far has
  * reached the benchmark's listeners before a span closes. The bus is
  * package-private, hence this one-line bridge. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
