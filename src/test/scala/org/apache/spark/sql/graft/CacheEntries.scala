package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of plans registered in a session's `CacheManager` (the
  * count is `private[sql]`, hence this shim in the sql namespace). */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
