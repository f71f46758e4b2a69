package org.apache.spark

/** Waits for Spark's listener bus to empty. The bus is visible only
  * inside the `org.apache.spark` package, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
