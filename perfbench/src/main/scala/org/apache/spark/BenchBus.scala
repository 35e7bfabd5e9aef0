package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so metrics
  * read right after a timed call include all of that call's tasks. The bus is
  * private to Spark, hence this helper lives in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
