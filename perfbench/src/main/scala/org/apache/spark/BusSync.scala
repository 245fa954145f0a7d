package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until the listener bus has delivered every event posted so far,
  * so the benchmark's listener has seen all stages before it is read.
  * (`listenerBus` is package-private to Spark.) */
object BusSync {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
