package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * queued event, so the counters read after a traced call are complete.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
