package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so the benchmark reads complete listener records.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
