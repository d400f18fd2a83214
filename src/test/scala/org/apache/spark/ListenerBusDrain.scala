package org.apache.spark

/** Drains Spark's listener bus, so that every event posted so far has
  * reached the spec's listeners before it counts them. The bus is
  * package-private, hence this one-line bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
