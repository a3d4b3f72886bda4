package org.apache.spark.sql

/** Test-only bridge into the session's `private[sql]` cache registry, so a
  * spec can tell whether a run left a Dataset cache registered.
  */
object GraftTestCacheBridge {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
