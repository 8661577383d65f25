package org.apache.spark.sql

/** Session internals the tests read but the public API hides. */
object GraftTestShims {
  /** Datasets registered in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
