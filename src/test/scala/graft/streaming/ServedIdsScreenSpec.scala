package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The served-ids screen of [[StreamingJobs.boilerMaintIngest]] reads the
  * ids pieces unmerged ([[DeltaState.unmerged]]); these specs pin that
  * it still admits nothing twice once compaction has folded the chain.
  */
class ServedIdsScreenSpec extends SparkSpec {
  test("served-ids screen across a compaction: a redelivery under a new id admits nothing; the unmerged read equals asOf as a set") {
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val gate = graft.queries.QueriesText.repetitionKeep _
    val out = java.nio.file.Files.createTempDirectory("graft-served-ids").toString
    val boiler = s"$out/boiler"
    def part(b: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === b)
    (0 until 4).foreach(b => StreamingJobs.curateStream(out, gate = gate)(part(b), b.toLong))
    assert(StreamingJobs.compactVersions(spark, boiler).nonEmpty, "compaction folded nothing")
    assert(graft.core.CommitLog.committedVersions(spark, boiler, DeltaState.BasePrefix).nonEmpty)

    val ids = DeltaState.Table("ids", DeltaState.SetU(Seq("doc_id")))
    def rows(df: Option[org.apache.spark.sql.DataFrame]) =
      df.get.collect().map(_.getLong(0)).toSet
    // the screen's own read for batch 4 (versions below 4), and the
    // current state: base plus the deltas above it
    Seq(Some(4L), None).foreach { cutoff =>
      assert(rows(DeltaState.unmerged(spark, boiler, ids, cutoff)) ==
        rows(DeltaState.asOf(spark, boiler, ids, cutoff)), s"cutoff $cutoff")
    }
    assert(rows(DeltaState.asOf(spark, boiler, ids)) == docs.select("doc_id").collect()
      .map(_.getLong(0)).toSet, "every delivered document is recorded as served")

    // batch 0's documents again, under a new batch id
    val n = StreamingJobs.curateStream(out, gate = gate)(part(0), 4L)
    assert(n == 0L, s"redelivery curated $n documents")
    val raw4 = spark.read.parquet(s"$out/raw").filter(col("__batch_id") === 4).count()
    assert(raw4 == 0L, s"the screen admitted $raw4 redelivered documents")
  }
}
