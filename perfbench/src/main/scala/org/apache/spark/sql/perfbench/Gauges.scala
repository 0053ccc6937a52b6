package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** Registered query-execution listeners, for the benchmark's leak gauge
  * (`listListeners` is `private[sql]`, hence this shim's package). */
object Gauges {
  def queryListeners(spark: SparkSession): Int =
    spark.listenerManager.listListeners().length
}
