package org.apache.spark.sql

/** Test-only bridge to the session's CacheManager entry count
  * (`private[sql]`): lets specs snapshot the cache before an operator
  * and assert it is left as found. */
object GraftCacheBridge {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
