package org.apache.spark.sql

/** Spark internals the specs read but cannot reach from `graft`. */
object GraftTestBridge {
  /** Entries in the shared CacheManager (all sessions of the context). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
