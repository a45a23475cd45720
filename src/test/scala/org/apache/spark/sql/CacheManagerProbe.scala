package org.apache.spark.sql

/** Test-side view of the session's `private[sql]` CacheManager size. */
object CacheManagerProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
