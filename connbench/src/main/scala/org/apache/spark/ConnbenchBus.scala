package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * task metrics read after a measured window are complete. The bus is
  * package-private to Spark, hence this object's package. */
object ConnbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
