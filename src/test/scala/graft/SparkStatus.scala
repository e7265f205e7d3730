package org.apache.spark.sql

import org.apache.spark.JobExecutionStatus

/** Reads driver state that Spark keeps package-private: the listener
  * bus and the in-memory status store.
  */
object SparkStatus {
  /** Waits until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Jobs held in the status store that are no longer running. */
  def completedJobs(spark: SparkSession): Int =
    spark.sparkContext.statusStore.jobsList(null).count(_.status != JobExecutionStatus.RUNNING)

  /** SQL executions held in the status store. */
  def sqlExecutions(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sharedState.statusStore.executionsCount()
}
