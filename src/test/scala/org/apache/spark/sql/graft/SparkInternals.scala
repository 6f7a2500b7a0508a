package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Test access to Spark state that is package-private: the listener bus
  * and the cache manager's entry count.
  */
object SparkInternals {
  /** Blocks until the listener bus has delivered every posted event, so
    * a listener read after an action has seen that action's jobs.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def cachedEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
