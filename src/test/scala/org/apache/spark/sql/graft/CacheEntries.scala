package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache registry (its entry count is
  * `private[sql]`): lets a spec assert an operator leaves no cached
  * frame behind. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
