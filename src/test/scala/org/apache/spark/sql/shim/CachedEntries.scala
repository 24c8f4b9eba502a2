package org.apache.spark.sql.shim

import org.apache.spark.sql.SparkSession

/** Test access to Spark's `private[sql]` count of cached query plans. */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
