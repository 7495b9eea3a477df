package org.apache.spark.sql

/** Test helper: the number of entries in the session's cache manager.
  * Lives in this package because the count is Spark-private. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
