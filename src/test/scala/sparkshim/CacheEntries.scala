package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's CacheManager entry count (spark-private). */
object CacheEntries {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
