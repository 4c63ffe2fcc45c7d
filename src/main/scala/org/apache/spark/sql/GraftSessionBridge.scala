package org.apache.spark.sql

/** `cloneSession()` for [[graft.GraftSession.scoped]]. It is
  * `private[sql]` on the classic session: a clone shares the
  * SparkContext, the CacheManager and the catalog, and starts with a copy
  * of the parent's runtime conf and temp views. `newSession()`, the public
  * form, starts from the static conf alone.
  */
object GraftSessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
