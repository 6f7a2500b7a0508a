package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{CleanerListener, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession

/** Test access to Spark state that is package-private: the listener bus,
  * the cache manager's entry count and the context cleaner.
  */
object SparkInternals {
  /** Blocks until the listener bus has delivered every posted event, so
    * a listener read after an action has seen that action's jobs.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def cachedEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries

  private val cleaned = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var cleanerOf: SparkContext = _

  /** Runs `body`; returns its result and the ids of the local-checkpoint
    * RDDs created during it that it left pinned.
    *
    * A checkpoint the code never releases still leaves
    * `getPersistentRDDs` once the context cleaner collects its dead RDD
    * object, at whatever GC happens to run, so survivors alone would
    * credit the GC to the code. An explicit release and the cleaner's
    * each post one `SparkListenerUnpersistRDD`: an RDD the cleaner
    * collected was released by the code iff it saw two.
    */
  def unreleasedCheckpoints[T](sc: SparkContext)(body: => T): (T, Set[Int]) = synchronized {
    if (cleanerOf ne sc) {
      sc.cleaner.foreach(_.attachListener(new CleanerListener {
        def rddCleaned(rddId: Int): Unit = cleaned.add(rddId)
        def shuffleCleaned(shuffleId: Int): Unit = ()
        def broadcastCleaned(broadcastId: Long): Unit = ()
        def accumCleaned(accId: Long): Unit = ()
        def checkpointCleaned(rddId: Long): Unit = ()
      }))
      cleanerOf = sc
    }
    val unpersists = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        unpersists.merge(e.rddId, 1, _ + _)
    }
    sc.addSparkListener(listener)
    val first = sc.newRddId() + 1
    try {
      val out = body
      // survivors first, then the cleaner's ids: an id the cleaner took
      // before the survivor scan is in the second set, and its unpersist
      // event was posted before it got there, so the drain below sees it
      val alive = sc.getPersistentRDDs.values
        .filter(r => r.id >= first && r.isCheckpointed && r.getCheckpointFile.isEmpty)
        .map(_.id).toSet
      val collected = cleaned.asScala.filter(_ >= first).toSet
      drainListeners(sc)
      (out, alive ++ collected.filter(id => unpersists.getOrDefault(id, 0) < 2))
    } finally sc.removeSparkListener(listener)
  }
}
