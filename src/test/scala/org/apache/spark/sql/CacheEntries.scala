package org.apache.spark.sql

/** Test-side bridge to the `private[sql]` count of the session's
  * CacheManager entries (tables persisted and not yet released). */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
