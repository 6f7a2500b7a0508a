package graft.core

import org.apache.spark.sql.DataFrame

/** The driver loop of every iterative query (one BSP superstep per
  * round). Each round is pinned by an eager `localCheckpoint()`, so
  * round k's plan never re-runs rounds 1..k-1, and the round before it
  * is released as soon as it exists: storage holds one round, not one
  * per round until a GC happens to run.
  */
object Rounds {
  /** Runs `step` from `init` until `settled(round)` holds or `maxRounds`
    * rounds have run; returns the last round (`init` if none ran) and
    * whether it settled. `init` is released like any superseded round.
    * A caller that does not return the last round frees it with
    * [[unpersistCheckpoint]].
    */
  def iterate(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)(
      settled: DataFrame => Boolean): (DataFrame, Boolean) = {
    var cur = init
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      val next = step(cur).localCheckpoint()
      done = settled(next)
      unpersistCheckpoint(cur)
      cur = next
      round += 1
    }
    (cur, done)
  }

  /** Frees the block-manager storage behind a localCheckpoint()ed frame;
    * a no-op for any other frame. Dataset.unpersist only covers
    * cacheManager entries, not the RDD a checkpoint pins, so reach
    * through the LogicalRDD leaf instead.
    */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
