package org.apache.spark.sql

/** The number of entries in a session's CacheManager: the count is
  * package-private to Spark SQL, so cache-hygiene specs read it here.
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
