package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.VectorExpressions.{dotF32, normF32}

/** Reference formulations the specs check the product operators
  * against. Each is the naive, obviously-correct twin of a scale
  * operator and keeps its own arithmetic, so a defect in a shared
  * product helper cannot hide in both sides of a comparison.
  */
object Oracles {
  /** In-driver oracle for `MapReduce.wordCount` — a port of the
    * reference's verify.py:6-15 (t1 smoke shape).
    */
  def wordCountOracle(lines: Seq[String]): Map[String, Long] =
    lines
      .flatMap(_.replaceAll("[^A-Za-z]", " ").split("\\s+"))
      .filter(_.nonEmpty)
      .groupBy(identity)
      .view
      .mapValues(_.size.toLong)
      .toMap

  /** Number of shuffle exchanges in the final physical plan of `df`.
    * Descends into AQE query stages (materialized shuffles become leaf
    * QueryStageExec nodes that plain collect() would miss).
    */
  def shuffleExchangeCount(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // Force execution so AQE finalizes the plan it actually ran.
    df.write.format("noop").mode("overwrite").save()
    def count(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self + kids.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  /** The raw range-join formulation — test twin for
    * `IntervalJoin.followUpsWithin`. Equi key = the join key only, so the
    * SMJ enumerates all same-key pairs before the residual.
    */
  def followUpsWithinNaive(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      windowSeconds: Long): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTime) > col(leftTime) &&
        col(rightTime) <= col(leftTime) + expr(s"INTERVAL $windowSeconds SECONDS"))

  /** The naive interval-join + keep-latest formulation — test twin for
    * `AsOf.asOfJoinBackward`. O(pairs) join output.
    */
  def asOfJoinBackwardNaive(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightPrefix: String = "r_",
      rightTieBreak: Option[String] = None): DataFrame = {
    val lCols = left.columns.toSeq
    val rPayloadCols = right.columns.filter(_ != key).toSeq
    val l = left.select(lCols.map(col): _*)
    val r = right.select(
      (col(key).as("__rk") +: col(rightTime).as("__rt") +:
        rPayloadCols.map(c => col(c).as(s"$rightPrefix$c"))): _*)
    val joined = l.join(r, col(key) === col("__rk") && col("__rt") <= col(leftTime), "left")
    val ord = col("__rt").desc_nulls_last +:
      rightTieBreak.map(c => col(s"$rightPrefix$c").desc_nulls_last).toSeq
    val w = Window.partitionBy(lCols.map(col): _*).orderBy(ord: _*)
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(lCols.map(col) ++ rPayloadCols.map(c => col(s"$rightPrefix$c")): _*)
  }

  /** Brute-force all-pairs formulation — the test twin for
    * `Similarity.cosineNearDupPairs` (identical results; O(n²) theta
    * join).
    */
  def cosineNearDupPairsBrute(embeddings: DataFrame, threshold: Double): DataFrame = {
    val withNorm = embeddings
      .select(col("vec_id"), col("embedding"), normF32(col("embedding")).as("__n"))
    val a = withNorm.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"), col("__n").as("__na"))
    val b = withNorm.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"), col("__n").as("__nb"))
    a.join(b, col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"),
        round(dotF32(col("ea"), col("eb")) / (col("__na") * col("__nb")), 6).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }
}
