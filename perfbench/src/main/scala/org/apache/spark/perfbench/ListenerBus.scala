package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Spark keeps `LiveListenerBus.waitUntilEmpty` package-private; the
  * traced run needs it so every event of a span is delivered before the
  * span closes. */
object ListenerBus {
  def waitUntilEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
