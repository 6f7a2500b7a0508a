package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals

import graft.core.Rounds

/** The round loop releases every superseded round: after an iterative
  * query returns, the only round checkpoint still pinned is the one its
  * plan reads.
  */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def readRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** Runs `build` and collects its frame; returns the round checkpoint
    * it reads and the other local checkpoints the call left pinned.
    */
  private def pinnedBy(build: => DataFrame): (Set[Int], Set[Int]) = {
    val (df, pinned) = SparkInternals.unreleasedCheckpoints(spark.sparkContext) {
      val df = build
      df.collect()
      df
    }
    val read = readRdds(df)
    assert(read.size == 1 && read.subsetOf(pinned), s"plan reads $read, pinned $pinned")
    (read, pinned -- read)
  }

  test("iterate keeps the last round pinned and reports whether it settled") {
    var rounds = 0
    val ((last, settled), pinned) = SparkInternals.unreleasedCheckpoints(spark.sparkContext) {
      Rounds.iterate(Seq(1L, 2L, 3L).toDF("x").localCheckpoint(), 5) { prev =>
        prev.select((col("x") + 1).as("x"))
      } { _ => rounds += 1; rounds == 3 }
    }
    assert(settled && rounds == 3)
    assert(last.as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    assert(pinned == readRdds(last), s"pinned $pinned")
  }

  test("q107 PageRank leaves only its last round pinned") {
    val (_, others) = pinnedBy(graft.queries.QueriesAnalytics.q107_pagerank(spark, sf("sf0.001")))
    assert(others.isEmpty, s"superseded rounds still pinned: $others")
  }

  test("q144 label propagation leaves its last round and its edge list pinned") {
    // the edge list every round reads is a pin of its own, not a round
    val (_, others) = pinnedBy(graft.queries.QueriesDedup.q144_label_prop(spark, sf("sf0.001")))
    assert(others.size <= 1, s"superseded rounds still pinned: $others")
  }
}
