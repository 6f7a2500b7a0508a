package graft

import org.apache.spark.sql.functions._

import graft.operators.IntervalJoin

class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def side(rows: Seq[(Long, Long, Long)], key: String, t: String, id: String) =
    rows.toDF(key, "__es", id)
      .withColumn(t, timestamp_seconds(col("__es"))).drop("__es")

  test("bucketed interval join matches crafted expectations at both range and bucket boundaries") {
    // window = 60 s; bucket boundaries at multiples of 60.
    val left = side(Seq((1L, 50L, 100L), (1L, 119L, 101L), (2L, 50L, 102L)), "k", "t_a", "id_a")
    val right = side(Seq(
      (1L, 50L, 900L),  // gap 0 from id_a=100 — excluded (strict >)
      (1L, 51L, 901L),  // gap 1, same bucket — included
      (1L, 109L, 902L), // gap 59, bucket b+1 — included
      (1L, 110L, 903L), // gap exactly 60 — included (inclusive upper)
      (1L, 111L, 904L), // gap 61 from id_a=100 — excluded (and BEFORE id_a=101)
      (1L, 179L, 905L), // for id_a=101: gap 60 across bucket boundary — included
      (3L, 51L, 906L)   // key never matches
    ), "k2", "t_b", "id_b")
    val got = IntervalJoin.followUpsWithin(left, right, "k", "k2", "t_a", "t_b", 60L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(
      (100L, 901L), (100L, 902L), (100L, 903L),
      (101L, 905L)))
  }

  test("bucketed == naive twin on random data: odd windows, microsecond timestamps") {
    val rng = new scala.util.Random(23)
    // microsecond-jittered times stress the whole-second bucket floor
    val rows = Seq.fill(300)((rng.nextInt(5).toLong, rng.nextInt(2000) * 1000000L + rng.nextInt(1000000), rng.nextLong()))
    val base = rows.toDF("k", "us", "id")
      .withColumn("t", (col("us") / 1e6d).cast("timestamp")).drop("us")
    val l = base.toDF("k", "id_a", "t_a")
    val r = base.toDF("k2", "id_b", "t_b")
    for (w <- Seq(1L, 7L, 61L)) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val fast = rows(IntervalJoin.followUpsWithin(l, r, "k", "k2", "t_a", "t_b", w))
      val naive = rows(Oracles.followUpsWithinNaive(l, r, "k", "k2", "t_a", "t_b", w))
      assert(fast == naive, s"window ${w}s diverged: ${fast.size} vs ${naive.size} pairs")
      assert(fast.nonEmpty, s"window ${w}s: degenerate empty twin test")
    }
  }

  test("bucketed formulation equals the naive range-join twin on events") {
    val ev = graft.core.Tables.events(spark, sf("sf0.001")).select("user_id", "ts", "event_id")
    val a = ev.select(col("user_id"), col("ts").as("ts_a"), col("event_id").as("id_a"))
    val b = ev.select(col("user_id").as("user_b"), col("ts").as("ts_b"), col("event_id").as("id_b"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fast = rows(IntervalJoin.followUpsWithin(a, b, "user_id", "user_b", "ts_a", "ts_b", 1800L))
    val naive = rows(Oracles.followUpsWithinNaive(a, b, "user_id", "user_b", "ts_a", "ts_b", 1800L))
    assert(fast.nonEmpty && fast == naive)
    // exactly-once: the two probed buckets are distinct, so no pair dups
    assert(fast == fast.distinct)
  }
}
