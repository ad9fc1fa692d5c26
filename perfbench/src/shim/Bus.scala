package org.apache.spark.perfbenchshim

import org.apache.spark.sql.SparkSession

/** Spark's listener bus is private[spark]; draining it at a span boundary
  * makes listener counters complete before they are read. */
object Bus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
