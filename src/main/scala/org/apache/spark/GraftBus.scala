package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener counters read afterwards are complete. `waitUntilEmpty` is
  * package-private to Spark, hence this package.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
