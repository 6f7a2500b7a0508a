package graft

import org.apache.spark.sql.functions._

import graft.operators.AsOf

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  test("backward as-of join matches crafted expectations incl. no-match nulls") {
    val left = Seq(
      (1L, 10L, 100L), // key 1, t=10 -> right t=7
      (1L, 7L, 101L),  // exact tie -> right t=7 (>= semantics)
      (1L, 3L, 102L),  // between right rows -> right t=2
      (1L, 1L, 104L),  // before any right row -> null
      (2L, 5L, 103L)   // key 2 has no right rows at all -> null
    ).toDF("k", "t", "lid")
    val right = Seq((1L, 2L, 900L), (1L, 7L, 901L), (3L, 1L, 902L)).toDF("k", "t", "rid")
    val got = AsOf.asOfJoinBackward(left, right, "k", "t", "t")
      .select("lid", "r_t", "r_rid")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got == Set(
      (100L, Some(7L), Some(901L)),
      (101L, Some(7L), Some(901L)),
      (102L, Some(2L), Some(900L)),
      (103L, None, None),
      (104L, None, None)))
  }

  test("forward as-of join picks the earliest right row at-or-after each left time") {
    val left = Seq(
      (1L, 10L, 100L), // -> right t=12 (nearest following)
      (1L, 7L, 101L),  // exact tie -> right t=7 (<= semantics)
      (1L, 13L, 102L), // after all right rows -> null
      (2L, 5L, 103L)   // key 2 has no right rows -> null
    ).toDF("k", "t", "lid")
    val right = Seq((1L, 2L, 900L), (1L, 7L, 901L), (1L, 12L, 902L), (3L, 9L, 903L)).toDF("k", "t", "rid")
    val got = AsOf.asOfJoinForward(left, right, "k", "t", "t")
      .select("lid", "r_t", "r_rid")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got == Set(
      (100L, Some(12L), Some(902L)),
      (101L, Some(7L), Some(901L)),
      (102L, None, None),
      (103L, None, None)))
  }

  test("duplicate (key, rightTime) rows resolve to the greatest tie-break value, deterministically") {
    val left = Seq((1L, 10L, 100L), (1L, 5L, 101L)).toDF("k", "t", "lid")
    // three right rows share (k=1, t=5); two more share (k=1, t=2)
    val right = Seq(
      (1L, 5L, 902L), (1L, 5L, 903L), (1L, 5L, 901L),
      (1L, 2L, 911L), (1L, 2L, 910L)
    ).toDF("k", "t", "rid")
    (1 to 3).foreach { _ =>
      val got = AsOf.asOfJoinBackward(left, right, "k", "t", "t", rightTieBreak = Some("rid"))
        .select("lid", "r_rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 903L), (101L, 903L)),
        "the kept duplicate must be the max-rid row under every run")
    }
    val naive = Oracles.asOfJoinBackwardNaive(left, right, "k", "t", "t", rightTieBreak = Some("rid"))
      .select("lid", "r_rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive == Set((100L, 903L), (101L, 903L)))
  }

  test("union+window formulation equals the naive interval-join twin on events") {
    val ev = graft.core.Tables.events(spark, sf("sf0.001"))
    val purchases = ev.filter(col("event_type") === "purchase").select("user_id", "event_id", "ts")
    val views = ev.filter(col("event_type") === "view").select("user_id", "ts", "event_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("view_event_id"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    val fast = rows(AsOf.asOfJoinBackward(purchases, views, "user_id", "ts", "ts", "view_"))
    val naive = rows(Oracles.asOfJoinBackwardNaive(purchases, views, "user_id", "ts", "ts", "view_"))
    assert(fast.nonEmpty && fast == naive)
  }

  test("as-of plan is a single-shuffle union+window — no cartesian/BNLJ, no join node") {
    val q = graft.queries.QueriesRelational.q38_asof_attribution(spark, sf("sf0.001"))
    q.write.format("noop").mode("overwrite").save()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not enumerate pairs:\n${plan.take(1500)}")
    val joins = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, "the scale formulation replaces the join with union+window")
  }
}
