package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache-manager entry count, which Spark
  * keeps `private[sql]`: lifecycle specs assert that the plan entries
  * `Dataset.persist` registers are all released again.
  */
object CacheBridge {
  def numCachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
