package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketed interval (range) join — pairs (l, r) with the same key and
  * `r.time ∈ (l.time, l.time + window]`.
  *
  * Plan shape (the part that matters at 100 TB): the naive formulation
  * `l.key = r.key AND r.t ∈ (l.t, l.t + W]` is an SMJ whose equi part is
  * the key alone, so it must enumerate EVERY same-key pair and only then
  * apply the range residual — O(Σₖ nₖ²) pair evaluations, quadratic in
  * per-key density. This implementation instead buckets time into
  * `window`-sized buckets: a right row at time t can only answer left
  * rows in buckets {⌊t/W⌋ − 1, ⌊t/W⌋}, equivalently every left row need
  * only probe its own bucket b and b + 1. The left side EXPLODES to
  * those two buckets and the join becomes an equi-join on
  * **(key, bucket)** with the range kept as a residual — pair work drops
  * to O(events × per-bucket density), linear in data, and the shuffle
  * key (key, bucket) breaks up hot keys across reducers instead of
  * funnelling a whole key's history into one task. Asserted in
  * PlanAssertionsSpec (join keys include the bucket column).
  *
  * Each right row lives in exactly one bucket and the two probed buckets
  * are distinct, so no pair can match twice — no dedup step needed.
  */
object IntervalJoin {
  /** Whole-second epoch of a (NTZ or instant) timestamp column; the
    * session is pinned UTC so the NTZ→instant hop is value-preserving.
    */
  private def epochS(c: Column): Column = c.cast("timestamp").cast("long")

  /** All (l, r) rows with `l(leftKey) = r(rightKey)` and
    * `r(rightTime) ∈ (l(leftTime), l(leftTime) + windowSeconds]`.
    * Column names must be disjoint across the two sides (rename before
    * calling, as for any self-join).
    */
  def followUpsWithin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      windowSeconds: Long): DataFrame = {
    // t_b ∈ (t_a, t_a + W] ⇒ ⌊e_b/W⌋ ∈ {⌊e_a/W⌋, ⌊e_a/W⌋ + 1}: the two
    // buckets a left row probes. floor-of-double is exact here (epoch/W
    // ≪ 2^53).
    val lb = floor(epochS(col(leftTime)) / lit(windowSeconds))
    val l = left.withColumn("__bl", explode(array(lb, lb + 1)))
    val r = right.withColumn("__br", floor(epochS(col(rightTime)) / lit(windowSeconds)))
    l.join(r,
        col(leftKey) === col(rightKey) && col("__bl") === col("__br") &&
          col(rightTime) > col(leftTime) &&
          col(rightTime) <= col(leftTime) + expr(s"INTERVAL $windowSeconds SECONDS"))
      .drop("__bl", "__br")
  }
}
