package graft

import org.apache.spark.sql.functions._

import graft.operators.Bucketing

/** Co-located join via bucketing: both sides bucketed on the join key ⇒
  * the join runs with zero shuffle exchanges and identical results.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-key join eliminates the shuffle") {
    // the in-memory catalog forgets tables between JVMs but their files
    // survive in the warehouse dir; clear both before writing
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val o = graft.core.Tables(spark, sf("sf0.001"), "orders")
    val l = graft.core.Tables(spark, sf("sf0.001"), "lineitem")
    Bucketing.writeBucketed(o, "orders_b", "o_orderkey", 4)
    Bucketing.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 4)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val shuffles = Oracles.shuffleExchangeCount(bucketed)
      // join needs none; only the groupBy on a different key shuffles
      assert(shuffles <= 1, s"expected at most the aggregation shuffle, got $shuffles")

      val unbucketed = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val got = bucketed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = unbucketed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)

      val unbucketedShuffles = Oracles.shuffleExchangeCount(unbucketed)
      assert(unbucketedShuffles > shuffles, "bucketing should remove join shuffles")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
