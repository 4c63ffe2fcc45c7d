package org.apache.spark.sql

/** Spark internals the specs read but cannot reach from `graft`. */
object GraftTestBridge {
  /** Entries in the shared CacheManager (all sessions of the context). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Delete `dir` at JVM exit, in Spark's temp-dir shutdown hook, which
    * runs after the SparkContext's own. */
  def deleteAtExit(dir: java.nio.file.Path): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir.toFile)
}
