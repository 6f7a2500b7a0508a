package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Backward as-of join — the time-series matching operator Spark has no
  * built-in for (SURVEY.md §2.B joins row: range/as-of absent in the
  * reference too; this is a §2.C-style scale extension).
  *
  * For each left row, attach the single right row with the greatest
  * `rightTime` <= `leftTime` for the same key (left-outer semantics:
  * no prior right row → nulls).
  *
  * Plan shape (the part that matters at 100 TB): a naive formulation is
  * an interval join `l.key = r.key AND r.t <= l.t` + keep-latest window,
  * whose join output is O(|L| × |R|) pairs per key before the window
  * discards all but one. This implementation instead UNIONS the two
  * sides, shuffles ONCE on the key, sorts each partition by (key, time,
  * side), and carries the most recent right payload forward with a
  * running `last(ignoreNulls)` window — O((|L|+|R|) log) per partition,
  * zero pair blow-up, no CartesianProduct/BNLJ node (asserted in
  * AsOfSpec). A right row tying a left row's timestamp sorts first and
  * therefore matches (>= semantics, like DuckDB's ASOF JOIN).
  *
  * With duplicate (key, rightTime) right rows, pass `rightTieBreak` (a
  * unique right column, e.g. an event id): the kept row is then the one
  * with the GREATEST tie-break value — a total order, deterministic
  * across runs and partitionings. Without it, the kept duplicate is
  * whatever the engine's sort left last (plan-dependent).
  */
object AsOf {
  /** Backward: greatest rightTime <= leftTime (DuckDB `ASOF ... >=`). */
  def asOfJoinBackward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightPrefix: String = "r_",
      rightTieBreak: Option[String] = None): DataFrame =
    asOfJoin(left, right, key, leftTime, rightTime, rightPrefix, rightTieBreak, forward = false)

  /** Forward: SMALLEST rightTime >= leftTime (DuckDB `ASOF ... <=`) —
    * e.g. "next view at or after each purchase". Same single-shuffle
    * union+running-last plan, traversed in descending time order.
    */
  def asOfJoinForward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightPrefix: String = "r_",
      rightTieBreak: Option[String] = None): DataFrame =
    asOfJoin(left, right, key, leftTime, rightTime, rightPrefix, rightTieBreak, forward = true)

  private def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightPrefix: String,
      rightTieBreak: Option[String], forward: Boolean): DataFrame = {
    val lCols = left.columns.toSeq
    val rPayloadCols = right.columns.filter(_ != key).toSeq
    val lType = StructType(left.schema.fields)
    val rType = StructType(right.schema.fields.filter(_.name != key))

    // Sort key for duplicate (key, t) right rows: ascending tie-break,
    // so the running `last` keeps the greatest. A constant when unused —
    // same single code path either way. Left rows carry null (they sort
    // within their (t, side=1) group only against each other).
    val rTb = rightTieBreak.map(col).getOrElse(lit(0))
    val lTb = rightTieBreak.map(c => lit(null).cast(right.schema(c).dataType)).getOrElse(lit(0))

    val lS = left.select(
      col(key).as("__k"), col(leftTime).as("__t"), lit(1).as("__side"),
      struct(lCols.map(col): _*).as("__l"),
      lit(null).cast(rType).as("__r"),
      lTb.as("__tb"))
    val rS = right.select(
      col(key).as("__k"), col(rightTime).as("__t"), lit(0).as("__side"),
      lit(null).cast(lType).as("__l"),
      struct(rPayloadCols.map(col): _*).as("__r"),
      rTb.as("__tb"))

    // Backward scans time ascending (the running right payload is the
    // most recent <= t); forward scans descending (it is the nearest
    // >= t). Right rows sort before the left rows they answer at equal
    // __t in both directions (>= / <= tie semantics, like DuckDB ASOF).
    val tOrd = if (forward) col("__t").desc else col("__t").asc
    val w = Window.partitionBy("__k")
      .orderBy(tOrd, col("__side").asc, col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lS.unionByName(rS)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lCols.map(c => col(s"__l.`$c`").as(c)) ++
        rPayloadCols.map(c => col(s"__m.`$c`").as(s"$rightPrefix$c")): _*)
  }
}
