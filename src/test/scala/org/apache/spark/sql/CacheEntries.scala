package org.apache.spark.sql

/** Test probe for the session's CacheManager entry count, which Spark
  * keeps `private[sql]`. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
