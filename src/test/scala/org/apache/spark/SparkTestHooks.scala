package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Spark-internal state the specs read: the listener bus (drained before a
  * listener's counts are read) and the session's cached relations. */
object SparkTestHooks {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Relations registered with the session's CacheManager. */
  def cachedRelations(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }
}
