package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the CacheManager's entry count, which Spark keeps
  * package-private. */
object CacheBridge {
  def numCachedEntries(s: SparkSession): Int =
    s.sharedState.cacheManager.numCachedEntries
}
