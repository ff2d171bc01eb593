package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Access to the listener bus drain, which Spark keeps package-private. */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
