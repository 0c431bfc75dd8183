package org.apache.spark.sql.execution

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache registry, whose entry count is
  * package-private: specs assert that a job releases what it persisted. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
