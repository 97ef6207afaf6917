package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's listeners have seen the whole run before it is
  * written out. The bus is package-private to Spark, hence this bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
