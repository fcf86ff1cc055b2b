package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Number of plans the session's CacheManager holds (Spark keeps the count
  * private to its own packages).
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
