package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Listener-bus drain for the benchmark's traced run. The bus is
  * package-private to Spark, hence this shim in Spark's package.
  */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
