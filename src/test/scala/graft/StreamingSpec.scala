package graft

import org.apache.spark.sql.functions._

import graft.queries.QueriesRelational
import graft.streaming.StreamingJobs

/** Streaming results must agree with their batch twins (q14 / q29). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The file stream source needs a directory containing only the events
    * table; stage a copy under /tmp.
    */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001"), "events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming hourly counts equal batch q14 on the same data") {
    val q = StreamingJobs.hourlyCounts(StreamingJobs.readEvents(spark, eventsDir))
      .writeStream.outputMode("append").format("memory").queryName("hourly").start()
    q.processAllAvailable(); q.stop()
    // append mode withholds windows past the watermark frontier; compare
    // the emitted prefix against the batch result.
    val got = spark.table("hourly")
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    val batch = QueriesRelational.q14_hourly_events(spark, sf("sf0.001"))
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got.nonEmpty, "streaming emitted nothing")
    assert(got.subsetOf(batch), s"streaming rows not in batch result: ${(got -- batch).take(3)}")
  }

  test("flatMapGroupsWithState sessionization equals batch q29") {
    val events = StreamingJobs.readEvents(spark, eventsDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"))
      .as[StreamingJobs.Event]
    val q = StreamingJobs.sessionize(events)
      .writeStream.outputMode("update").format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    // update mode: take the last emitted row per user
    val got = spark.table("sessions")
      .groupBy("user_id").agg(max(struct(col("n_events"), col("n_sessions"))).as("s"))
      .select(col("user_id"), col("s.n_sessions"), col("s.n_events"))
      .as[(Long, Long, Long)].collect().toMap2
    val batch = QueriesRelational.q29_user_sessions(spark, sf("sf0.001"))
      .as[(Long, Long, Long)].collect().toMap2
    assert(got == batch)
  }

  implicit class TupleOps(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("streaming dedup collapses redelivered events to the batch distinct count") {
    // Stage the events file TWICE — an at-least-once source redelivering
    // every record. The watermarked dedup must emit each event_id once.
    val d = java.nio.file.Files.createTempDirectory("graft-events-dup")
    Seq("events.parquet", "events_redelivered.parquet").foreach { name =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf("sf0.001"), "events.parquet"), d.resolve(name))
    }
    val q = StreamingJobs.dedupEvents(StreamingJobs.readEvents(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup").select("event_id").as[Long].collect()
    val batchDistinct = graft.core.Tables.events(spark, sf("sf0.001")).count()
    assert(got.length == got.distinct.length, "an event_id was emitted twice")
    assert(got.length == batchDistinct,
      s"expected one row per original event: ${got.length} vs $batchDistinct")
  }

  test("dedup state is EVICTED by the watermark, measured from query progress") {
    // Two chronological chunks so the watermark advances between batches.
    // dropDuplicatesWithinWatermark keeps one state row per id seen — the
    // boundedness claim is that ids older than the watermark are evicted,
    // so final state tracks the watermark tail, NOT the stream length.
    // Measured via lastProgress.stateOperators (the operational telemetry
    // an on-call engineer reads), not by poking store internals.
    //
    // Chunks MUST be staged in the raw int64-nanos form readEvents
    // expects: staging through the batch loader (ts already µs) would
    // make readEvents's `ts div 1000` compress 30 days into 44 minutes —
    // inside the 2h delay, where NO watermark can ever evict anything.
    val raw = StreamingJobs.rawEvents(spark, sf("sf0.001"))
    val cut = raw.selectExpr("CAST(percentile(ts, 0.5) AS LONG)").first().getLong(0)
    val d = java.nio.file.Files.createTempDirectory("graft-ev-dedup-evict").toString
    raw.filter(col("ts") <= cut).coalesce(1).write.mode("append").parquet(d)
    val q = StreamingJobs.dedupEvents(StreamingJobs.readEvents(spark, d))
      .writeStream.outputMode("append").format("memory").queryName("dedupevict").start()
    q.processAllAvailable()
    val afterChunk1 = q.lastProgress.stateOperators.head.numRowsTotal
    raw.filter(col("ts") > cut).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable()
    val afterChunk2 = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    val total = raw.count()
    // A 2h watermark tail of a 15-day chunk holds a handful of the 1000
    // ids (measured: 4-7); half is a generous ceiling that still rules
    // out any implementation accumulating state with stream length.
    assert(afterChunk1 < total / 2,
      s"chunk-1 dedup state not evicted: $afterChunk1 ids retained")
    assert(afterChunk2 < total / 2,
      s"final dedup state tracks stream length, not watermark: $afterChunk2 of $total ids")
  }

  test("streaming near-dup pairs equal batch minHashNearDup when the horizon covers the stream") {
    // Documents streamed with synthetic arrival times 60s apart; a
    // horizon wider than the whole stream makes every pair eligible, so
    // the streaming result must equal the batch MinHash+LSH path exactly
    // (same permutation family, same band layout → identical candidates;
    // exact Jaccard decides on both sides).
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val d = java.nio.file.Files.createTempDirectory("graft-docs-stream").toString
    docs.withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id") * 60))
      .select("doc_id", "ts", "text")
      .coalesce(1).write.mode("append").parquet(d)
    val q = StreamingJobs.nearDupPairsStream(
        StreamingJobs.readDocs(spark, d), shingleN = 5, threshold = 0.8, horizon = "30 days")
      .writeStream.outputMode("append").format("memory").queryName("neardup").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardup")
      .select(col("doc_id_a"), col("doc_id_b"), round(col("jaccard"), 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.dedup.Dedup.minHashNearDup(docs, shingleN = 5, threshold = 0.8)
      .select(col("doc_id_a"), col("doc_id_b"), round(col("jaccard"), 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty, "fixture has no near-dup pairs — test is vacuous")
    assert(got == batch,
      s"streaming vs batch near-dup diverge: extra=${(got -- batch).take(3)} missing=${(batch -- got).take(3)}")
  }

  test("streaming near-dup with a bounded horizon emits only in-horizon pairs and bounds state") {
    // 10-minute horizon over 60s-spaced arrivals: only pairs ≤ 10 ids
    // apart are eligible. Equality against the time-filtered batch pairs
    // pins the semantics; join state measured from progress telemetry
    // must track the horizon, not the stream length.
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val staged = docs.withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id") * 60))
      .select("doc_id", "ts", "text")
    val d = java.nio.file.Files.createTempDirectory("graft-docs-stream-h").toString
    val n = docs.count()
    staged.filter(col("doc_id") < n / 2).coalesce(1).write.mode("append").parquet(d)
    val q = StreamingJobs.nearDupPairsStream(
        StreamingJobs.readDocs(spark, d), shingleN = 5, threshold = 0.8, horizon = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("neardup_h").start()
    q.processAllAvailable()
    staged.filter(col("doc_id") >= n / 2).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    val got = spark.table("neardup_h")
      .select(col("doc_id_a"), col("doc_id_b")).as[(Long, Long)].collect().toSet
    val batch = graft.dedup.Dedup.minHashNearDup(docs, shingleN = 5, threshold = 0.8)
      .filter(abs(col("doc_id_a") - col("doc_id_b")) <= 10)
      .select(col("doc_id_a"), col("doc_id_b")).as[(Long, Long)].collect().toSet
    assert(got == batch,
      s"bounded-horizon pairs diverge: extra=${(got -- batch).take(3)} missing=${(batch -- got).take(3)}")
    // Unbounded accumulation would hold every banded row ever seen
    // (2 sides × docs × 32 bands); the horizon holds ~10-20 docs' worth.
    val unbounded = 2L * n * 32
    assert(stateRows < unbounded / 4,
      s"join state tracks stream length, not horizon: $stateRows of $unbounded banded rows")
  }

  test("streaming decontamination equals batch q164 and holds zero state") {
    // Non-eval documents streamed in two chunks against the static eval
    // fingerprint (the q164 mod-97 split). Every label must equal the
    // batch decontamination row for row, and the job must hold NO
    // streaming state at all (stream-static join with a one-row static
    // side + per-row HOFs) — the telemetry check pins that.
    val all = graft.core.Tables(spark, sf("sf0.001"), "documents")
    val evalDocs = all.filter(pmod(col("doc_id"), lit(97)) === 0).select("doc_id", "text")
    val train = all.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id") * 60))
      .select("doc_id", "ts", "text")
    val d = java.nio.file.Files.createTempDirectory("graft-decon-stream").toString
    val n = all.count()
    train.filter(col("doc_id") < n / 2).coalesce(1).write.mode("append").parquet(d)
    val q = StreamingJobs.decontaminateStream(StreamingJobs.readDocs(spark, d), evalDocs)
      .writeStream.outputMode("append").format("memory").queryName("decon").start()
    q.processAllAvailable()
    train.filter(col("doc_id") >= n / 2).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable()
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps == null || stateOps.isEmpty || stateOps.forall(_.numRowsTotal == 0),
      s"decontamination should be stateless, found state: ${stateOps.map(_.numRowsTotal).mkString(",")}")
    q.stop()
    val got = spark.table("decon")
      .select("doc_id", "n_windows", "n_hits", "hit_frac", "verdict")
      .as[(Long, Long, Long, Double, String)].collect().toSet
    val batch = graft.queries.QueriesDedup.q164_decontaminate(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Double, String)].collect().toSet
    assert(batch.exists(_._3 > 0), "fixture has no contaminated docs — test is vacuous")
    assert(got == batch,
      s"streaming vs batch decontamination diverge: extra=${(got -- batch).take(3)} missing=${(batch -- got).take(3)}")
  }

  test("streaming ANN serving equals batch annLshTopK per query") {
    // 20 query vectors streamed 30s apart against the static embedding
    // corpus; a far-future flusher query advances the watermark so every
    // real window closes and emits. Each query's served top-k must equal
    // the batch probe-bucket ANN exactly (same planes, same probes, same
    // rounding, same tie-break).
    val emb = graft.core.Tables(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 20)
    val staged = queries
      .select(col("vec_id").as("query_id"),
        timestamp_seconds(lit(1700000000L) + col("vec_id") * 30).as("ts"),
        col("embedding").as("query_vec"))
      .unionByName(queries.limit(1)
        .select(lit(999999L).as("query_id"),
          timestamp_seconds(lit(1700000000L + 3600L)).as("ts"),
          col("embedding").as("query_vec")))
    val d = java.nio.file.Files.createTempDirectory("graft-ann-serve").toString
    staged.coalesce(1).write.mode("append").parquet(d)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("query_vec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val stream = spark.readStream.schema(schema).parquet(d)
    val q = StreamingJobs.annServeStream(stream, emb, k = 10)
      .writeStream.outputMode("append").format("memory").queryName("annserve").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("annserve").filter(col("query_id") =!= 999999L)
      .select(col("query_id"), col("vec_id"), col("cosine_sim"), col("rnk"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val batch = graft.sim.Similarity.annLshTopK(emb,
        queries.select(col("vec_id").as("query_id"), col("embedding").as("query_vec")), k = 10)
      .select(col("query_id"), col("vec_id"), col("cosine_sim"), col("rnk"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(batch.nonEmpty && got == batch,
      s"served ANN diverges from batch: extra=${(got -- batch).take(3)} missing=${(batch -- got).take(3)}")
  }

  test("live-index ANN serving: queries see exactly the index ingested so far; both sinks replay-idempotent") {
    val emb = graft.core.Tables(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpusA = emb.filter(col("vec_id") % 2 === 0)
    val corpusB = emb.filter(col("vec_id") % 2 =!= 0)
    val queries = emb.filter(col("vec_id") < 12)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

    val idxIn = java.nio.file.Files.createTempDirectory("graft-liveidx-in").toString
    val qryIn = java.nio.file.Files.createTempDirectory("graft-liveqry-in").toString
    val idxDir = java.nio.file.Files.createTempDirectory("graft-liveidx").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-liveout").toString

    val embSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val qrySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("query_vec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val idxQ = spark.readStream.schema(embSchema).parquet(idxIn).writeStream
      .foreachBatch(StreamingJobs.annIndexSink(idxDir) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-liveidx-ck").toString).start()
    val qryQ = spark.readStream.schema(qrySchema).parquet(qryIn).writeStream
      .foreachBatch(StreamingJobs.annQuerySink(idxDir, outDir, k = 10) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-liveqry-ck").toString).start()

    def served(): Set[(Long, Long, Double, Long)] =
      spark.read.parquet(outDir)
        .select(col("query_id"), col("vec_id"), col("cosine_sim"), col("rnk"))
        .as[(Long, Long, Double, Long)].collect().toSet
    def batchAnn(corpus: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      graft.sim.Similarity.annLshTopK(corpus, queries, k = 10)
        .select(col("query_id"), col("vec_id"), col("cosine_sim"), col("rnk"))
        .as[(Long, Long, Double, Long)].collect().toSet

    // ingest corpus A, then serve the query panel: must equal batch ANN over A
    corpusA.coalesce(1).write.mode("append").parquet(idxIn)
    idxQ.processAllAvailable()
    queries.coalesce(1).write.mode("append").parquet(qryIn)
    qryQ.processAllAvailable()
    val afterA = served()
    assert(afterA.nonEmpty && afterA == batchAnn(corpusA),
      "chunk-1 serving must equal batch ANN over the ingested half")

    // ingest corpus B, re-ask the same panel: must now see the FULL index
    corpusB.coalesce(1).write.mode("append").parquet(idxIn)
    idxQ.processAllAvailable()
    queries.coalesce(1).write.mode("append").parquet(qryIn)
    qryQ.processAllAvailable()
    idxQ.stop(); qryQ.stop()
    val allServed = served()
    val full = batchAnn(emb)
    assert(full.subsetOf(allServed),
      "after full ingest the re-asked panel must match batch ANN over the whole corpus")
    assert(allServed == afterA ++ full, "outputs must be exactly the two panels' results")

    // replay-idempotence: re-running a sink for an already-written batch
    // overwrites its own part and changes nothing
    val before = served()
    StreamingJobs.annQuerySink(idxDir, outDir, k = 10)(queries, 1L)
    assert(served() == before, "replaying a query batch must leave served results unchanged")
  }

  test("index compaction folds old parts into one; serving results unchanged; newest part survives replay") {
    val emb = graft.core.Tables(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft-cidx").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cout").toString
    (0 until 3).foreach { b =>
      StreamingJobs.annIndexSink(idxDir)(emb.filter(col("vec_id") % 3 === b), b.toLong)
    }
    def parts() = new java.io.File(idxDir).listFiles().map(_.getName).filter(_.startsWith("part=")).sorted.toSeq
    def serve(tag: Long) = {
      StreamingJobs.annQuerySink(idxDir, outDir, k = 10)(queries, tag)
      spark.read.parquet(s"$outDir/part=$tag")
        .as[(Long, Long, Double, Long)].collect().toSet
    }
    assert(parts().size == 3)
    val before = serve(100L)
    StreamingJobs.annIndexCompact(idxDir)
    assert(parts() == Seq("part=2", "part=m2"), s"expected consolidated layout, got ${parts()}")
    assert(serve(101L) == before, "compaction must not change served results")
    // the replay window: re-delivering the NEWEST batch only overwrites
    // its own surviving part — still no duplicates, same results
    StreamingJobs.annIndexSink(idxDir)(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(serve(102L) == before, "replaying the newest batch after compaction must be a no-op")
    // a second compaction with nothing but {newest, consolidated} is a no-op
    StreamingJobs.annIndexCompact(idxDir)
    assert(parts() == Seq("part=2", "part=m2"))
  }

  test("CDC upsert sink: streamed events materialize the batch last-value-per-user snapshot, replay-idempotent") {
    // Events as an upsert stream keyed by user_id: after streaming the
    // whole log in two chronological chunks, the maintained snapshot must
    // equal the batch "newest event per user" query; redelivering a batch
    // to the sink must leave the snapshot byte-identical (exactly-once
    // from at-least-once replay).
    val raw = StreamingJobs.rawEvents(spark, sf("sf0.001"))
    val cut = raw.selectExpr("CAST(percentile(ts, 0.5) AS LONG)").first().getLong(0)
    val d = java.nio.file.Files.createTempDirectory("graft-ev-cdc").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cdc-out").toString
    raw.filter(col("ts") <= cut).coalesce(1).write.mode("append").parquet(d)
    val upserts = StreamingJobs.readEvents(spark, d).select("user_id", "ts", "value")
    val q = upserts.writeStream
      .foreachBatch(StreamingJobs.cdcUpsertSink(out, "user_id", "ts") _)
      .start()
    q.processAllAvailable()
    raw.filter(col("ts") > cut).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable(); q.stop()

    def snap() = StreamingJobs.cdcSnapshot(spark, out)
      .select(col("user_id"), col("ts").cast("string"), col("value"))
      .as[(Long, String, Double)].collect().toSet
    val batch = graft.core.Tables.events(spark, sf("sf0.001"))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy(col("ts").desc)))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("ts").cast("string"), col("value"))
      .as[(Long, String, Double)].collect().toSet
    val afterStream = snap()
    assert(afterStream == batch,
      s"CDC snapshot diverges from batch newest-per-key: extra=${(afterStream -- batch).take(3)} missing=${(batch -- afterStream).take(3)}")

    // at-least-once replay: re-deliver the LAST batch with the same id,
    // reconstructed exactly as readEvents presented it (nanos → µs)
    val lastBatch = raw.filter(col("ts") > cut)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select("user_id", "ts", "value")
    val versions = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
    StreamingJobs.cdcUpsertSink(out, "user_id", "ts")(lastBatch, versions.max)
    assert(snap() == afterStream, "replaying a batch changed the snapshot — sink is not idempotent")

    // retention: compaction keeps the head + predecessor, drops the rest,
    // and the snapshot AND replay-idempotence both survive it
    StreamingJobs.cdcCompact(out, keepVersions = 2)
    val left = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("v=")).sorted
    assert(left.length == 2, s"compaction kept ${left.mkString(",")}")
    assert(snap() == afterStream, "compaction changed the current snapshot")
    StreamingJobs.cdcUpsertSink(out, "user_id", "ts")(lastBatch, versions.max)
    assert(snap() == afterStream, "replay after compaction changed the snapshot")
  }

  test("streaming compaction plan: incremental maintenance equals the batch plan; untouched partitions carry; replay-idempotent") {
    // File inventory streamed in two chunks: chunk 2 lands files in ONE
    // lang only, so every other lang's plan must carry over from v=0
    // verbatim while the maintained plan still equals the batch q120
    // formula over the full inventory.
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("lang"), col("doc_id"), octet_length(col("text")).cast("long").as("size_bytes"))
    val hotLang = docs.select("lang").orderBy("lang").first().getString(0)
    val cut = docs.filter(col("lang") === hotLang)
      .selectExpr("CAST(percentile(doc_id, 0.5) AS LONG)").first().getLong(0)
    val late = col("lang") === hotLang && col("doc_id") > cut

    val d = java.nio.file.Files.createTempDirectory("graft-cmp-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cmp-out").toString
    docs.filter(!late).coalesce(1).write.mode("append").parquet(d)
    val stream = spark.readStream
      .schema("lang STRING, doc_id LONG, size_bytes LONG")
      .parquet(d)
    val q = stream.writeStream
      .foreachBatch(StreamingJobs.compactionPlanSink(out) _)
      .start()
    q.processAllAvailable()
    val planV0 = StreamingJobs.compactionPlan(spark, out)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    docs.filter(late).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable(); q.stop()

    def plan() = StreamingJobs.compactionPlan(spark, out)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    // batch twin: the q120 formula over the full inventory
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val batchPlan = docs.filter(col("size_bytes") < 8192L)
      .withColumn("cum_before", coalesce(sum("size_bytes").over(w), lit(0L)))
      .withColumn("bin", expr("cast(cum_before div 4096 as bigint)"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum("size_bytes").as("total_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val maintained = plan()
    assert(maintained == batchPlan,
      s"maintained plan diverges: extra=${(maintained -- batchPlan).take(3)} missing=${(batchPlan -- maintained).take(3)}")
    // untouched partitions carried over verbatim from v=0
    assert(maintained.filter(_._1 != hotLang) == planV0.filter(_._1 != hotLang),
      "untouched langs' plan rows must carry over unchanged")
    // replay: re-deliver the last chunk with the same batch id
    val versions = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
    StreamingJobs.compactionPlanSink(out)(docs.filter(late), versions.max)
    assert(plan() == maintained, "replaying a batch changed the plan — sink is not idempotent")
  }

  test("compaction plan: a replay failing mid-write leaves the served version whole; a clean replay converges to the never-failed twin") {
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("lang"), col("doc_id"), octet_length(col("text")).cast("long").as("size_bytes"))
    def part(b: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === b)
    val out = java.nio.file.Files.createTempDirectory("graft-cmp-torn").toString
    val twin = java.nio.file.Files.createTempDirectory("graft-cmp-twin").toString
    (0 until 2).foreach { b =>
      StreamingJobs.compactionPlanSink(out)(part(b), b.toLong)
      StreamingJobs.compactionPlanSink(twin)(part(b), b.toLong)
    }
    def rows(dir: String, table: String) = spark.read.parquet(s"$dir/$table").collect().toSet
    def plan(dir: String) = StreamingJobs.compactionPlan(spark, dir).collect().toSet
    // redeliver the committed batch 1 with an input that fails while the
    // version's tables are being overwritten
    val boom = udf((n: Long) => {
      if (n >= 0) throw new IllegalStateException("injected write failure")
      n
    })
    val e = intercept[Exception] {
      StreamingJobs.compactionPlanSink(out)(part(1).withColumn("size_bytes", boom(col("size_bytes"))), 1L)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected write failure")),
      s"the sink must fail on the injected error, got $e")
    // the served version is committed and every one of its tables reads back
    val served = graft.core.CommitLog.committedVersions(spark, out, "v=").max
    val servedPlan = rows(s"$out/v=$served", "plan")
    assert(rows(s"$out/v=$served", "inventory").nonEmpty, s"served version $served lost its inventory")
    assert(plan(out) == servedPlan)
    // the clean replay plus the next batch equal the never-failed twin
    StreamingJobs.compactionPlanSink(out)(part(1), 1L)
    StreamingJobs.compactionPlanSink(out)(part(2), 2L)
    StreamingJobs.compactionPlanSink(twin)(part(2), 2L)
    assert(plan(out) == plan(twin), "replayed plan diverged from the twin")
    assert(rows(s"$out/v=2", "inventory") == rows(s"$twin/v=2", "inventory"),
      "replayed inventory diverged from the twin")
  }

  test("stream-stream interval join equals the batch formulation") {
    val q = StreamingJobs.followUpPairs(StreamingJobs.readEvents(spark, eventsDir), 30)
      .writeStream.outputMode("append").format("memory").queryName("pairs").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("pairs").select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val ev = graft.core.Tables.events(spark, sf("sf0.001"))
      .select(col("user_id"), col("ts"), col("event_id"))
    val a = ev.select(col("user_id"), col("ts").as("ts_a"), col("event_id").as("id_a"))
    val b = ev.select(col("user_id").as("user_b"), col("ts").as("ts_b"), col("event_id").as("id_b"))
    val batch = a.join(b,
      a("user_id") === b("user_b") && b("ts_b") > a("ts_a")
        && b("ts_b") <= a("ts_a") + expr("INTERVAL 30 MINUTES"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    assert(got.nonEmpty, "stream-stream join emitted nothing")
    // append mode may withhold pairs near the watermark frontier
    assert(got.subsetOf(batch), s"rows not in batch result: ${(got -- batch).take(3)}")
    assert((batch -- got).size <= batch.size / 10, "too many pairs withheld")
  }

  test("incremental aggregate maintenance equals batch recompute over latest-per-key") {
    // Events streamed in two chronological chunks; users recur across
    // chunks, so chunk 2's upserts must move value OUT of the group the
    // user previously counted in and INTO the new one — the delta path,
    // not a recompute. The final maintained view must match a
    // from-scratch batch aggregate over each user's latest row.
    val raw = StreamingJobs.rawEvents(spark, sf("sf0.001"))
    val cut = raw.selectExpr("CAST(percentile(ts, 0.5) AS LONG)").first().getLong(0)
    val d = java.nio.file.Files.createTempDirectory("graft-ev-ivm").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ivm-out").toString
    raw.filter(col("ts") <= cut).coalesce(1).write.mode("append").parquet(d)
    val q = StreamingJobs.readEvents(spark, d)
      .writeStream.outputMode("append")
      .foreachBatch(StreamingJobs.aggMaintSink(out) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ivm-ck").toString)
      .start()
    q.processAllAvailable()
    raw.filter(col("ts") > cut).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable(); q.stop()

    val got = StreamingJobs.aggMaintView(spark, out)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val want = graft.core.Tables.events(spark, sf("sf0.001"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .groupBy("event_type").agg(sum("value").as("tv"), count(lit(1)).as("nu"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got.keySet == want.keySet, s"groups differ: ${got.keySet} vs ${want.keySet}")
    got.foreach { case (g, (tv, nu)) =>
      assert(nu == want(g)._2, s"group $g user count: $nu vs ${want(g)._2}")
      assert(math.abs(tv - want(g)._1) < 1e-6,
        s"group $g value: $tv vs ${want(g)._1} (delta-maintenance drift exceeds tolerance)")
    }
    // user counts across groups must cover every distinct user exactly once
    assert(got.values.map(_._2).sum ==
      graft.core.Tables.events(spark, sf("sf0.001")).select("user_id").distinct().count())
  }

  test("streaming HLL maintenance equals the one-shot batch sketch exactly; replays are no-ops") {
    // Register-max algebra: the maintained state after streaming the
    // events in two chunks must be BIT-EQUAL to sketching the whole
    // table at once (not a tolerance comparison — the merge is exact),
    // and re-running the last batch must change nothing (idempotence).
    val raw = StreamingJobs.rawEvents(spark, sf("sf0.001"))
    val cut = raw.selectExpr("CAST(percentile(ts, 0.5) AS LONG)").first().getLong(0)
    val d = java.nio.file.Files.createTempDirectory("graft-ev-hll").toString
    val out = java.nio.file.Files.createTempDirectory("graft-hll-out").toString
    raw.filter(col("ts") <= cut).coalesce(1).write.mode("append").parquet(d)
    val q = StreamingJobs.readEvents(spark, d)
      .writeStream.outputMode("append")
      .foreachBatch(StreamingJobs.hllMaintSink(out) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-hll-ck").toString)
      .start()
    q.processAllAvailable()
    raw.filter(col("ts") > cut).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable(); q.stop()

    def state() = StreamingJobs.hllMaintView(spark, out)
      .collect().map(r => r.getString(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    val got = state()
    val want = graft.core.Tables.events(spark, sf("sf0.001"))
      .select(col("event_type"),
        graft.functions.PortableHash.asciiPolyHash(col("user_id").cast("string")).as("h"))
      .groupBy("event_type")
      .agg(org.apache.spark.sql.graft.HllAgg.hll(col("h"), 9).as("regs"))
      .select(col("event_type"), col("regs"),
        round(org.apache.spark.sql.graft.HllAgg.estimateCol(col("regs"), 9), 6).as("e"))
      .collect().map(r => r.getString(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, (regs, est)) =>
      assert(regs == want(g)._1, s"group $g registers diverge from the one-shot sketch")
      assert(est == want(g)._2, s"group $g estimate not bit-equal")
    }
    // idempotence: redeliver EVERY row as one more batch — state unchanged
    val lastV = graft.core.CommitLog.committedVersions(spark, out, "v=").max
    StreamingJobs.hllMaintSink(out)(
      graft.core.Tables.events(spark, sf("sf0.001")), lastV + 1)
    assert(state() == got, "re-merging already-seen rows changed the registers")
  }

  test("streamed boilerplate df-maintenance equals the batch frequency table; cleaning through the view equals the one-shot transform") {
    // Documents arrive in three batches (each doc exactly once — the
    // crawl-ingest contract); the maintained (h, df) table must equal
    // the one-shot distinct-doc frequency count, the minDocs view must
    // equal removeBoilerplate's threshold set, and applyBoilerplate
    // against the view must reproduce the one-shot transform.
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
    val out = java.nio.file.Files.createTempDirectory("graft-boiler-out").toString
    (0 until 3).foreach { i =>
      StreamingJobs.boilerMaintSink(out)(docs.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong)
    }
    val view = StreamingJobs.boilerMaintView(spark, out, minDocs = 3)
    val gotSet = view.select("h").collect().map(_.getLong(0)).toSet
    val wantDf = graft.dedup.Dedup.chunkOccurrences(docs, 5)
      .select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    val wantSet = wantDf.filter(col("df") >= 3).collect().map(_.getLong(0)).toSet
    assert(gotSet == wantSet, "streamed boilerplate set diverges from the batch threshold set")
    assert(gotSet.nonEmpty, "degenerate fixture: no boilerplate at minDocs=3")
    // full df table equality, not just the thresholded view (read
    // through the delta-merged accessor — versions hold only deltas)
    def dfTable() = StreamingJobs.boilerMaintDf(spark, out)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullGot = dfTable()
    val fullWant = wantDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fullGot == fullWant, "maintained df table diverges from one-shot counts")
    // cleaning through the accumulated view == the one-shot transform
    val viaView = graft.dedup.Dedup.applyBoilerplate(docs, view, 5)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    val oneShot = graft.dedup.Dedup.removeBoilerplate(docs, 5, 3)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(viaView == oneShot)
    // replay contract: redelivering the LAST batch under its own batchId
    // rebuilds from the predecessor — state unchanged
    StreamingJobs.boilerMaintSink(out)(docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L)
    assert(dfTable() == fullWant, "batch replay double-counted document frequencies")
    // CROSS-BATCH at-least-once: a LATER batch redelivering already-seen
    // docs (half of batch 0, all of batch 1) is screened by the served-ids
    // anti-join — the df table must not move
    val redelivered = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .filter(pmod(col("doc_id"), lit(2)) === 0)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(3)) === 1))
    StreamingJobs.boilerMaintSink(out)(redelivered, 3L)
    assert(dfTable() == fullWant,
      "cross-batch redelivery of already-served docs inflated document frequencies")
    // ...while a later batch mixing redelivered + genuinely new docs
    // counts only the new ones (served ids drive the screen, not batch
    // boundaries): plant two fresh docs carrying an already-boiler chunk
    val planted = Seq((900001L, "x"), (900002L, "y")).toDF("doc_id", "text")
    StreamingJobs.boilerMaintSink(out)(
      planted.unionByName(
        docs.filter(pmod(col("doc_id"), lit(3)) === 2).select("doc_id", "text")), 4L)
    val after = dfTable()
    // the redelivered two-thirds contributed nothing; each planted doc
    // added its own single-token chunk with df=1
    val extra = after.view.filterKeys(!fullWant.contains(_)).toMap
    assert(extra.values.forall(_ == 1L) && extra.size == 2,
      s"expected exactly the two planted chunks at df=1, got $extra")
    assert(after.view.filterKeys(fullWant.contains).toMap == fullWant,
      "pre-existing chunk frequencies moved on a mixed redelivery batch")
  }

  test("compactVersions: keeps the view and the replay predecessor, removes only unreachable state") {
    // Batches land as delta versions v=0, v=2, v=4 (all committed).
    // Plant crash debris: an UNCOMMITTED v=3 (older than the newest
    // committed version — a crashed write whose batch later succeeded
    // elsewhere; no replay can ever target it again) and an UNCOMMITTED
    // v=9 (newer — the in-flight batch a retry WILL overwrite; must
    // survive). keep=2 compaction must fold everything up to the
    // SECOND-newest version (v=2) into a base snapshot — deleting the
    // superseded deltas {0, 2} plus the debris {3} — leave {base_v=2,
    // v=4, v=9}, keep the view bit-identical, and leave the chain
    // usable in BOTH continuations the contract names: a redelivery of
    // batch 4 itself (the checkpoint-crash window — rebuilds from the
    // base_v=2 predecessor) and a genuinely new batch.
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
    val out = java.nio.file.Files.createTempDirectory("graft-boiler-compact").toString
    (0 until 3).foreach { i =>
      StreamingJobs.boilerMaintSink(out)(
        docs.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong * 2)
    }
    graft.core.ArtifactIO.mkdirs(spark, s"$out/v=3")
    graft.core.ArtifactIO.mkdirs(spark, s"$out/v=9")
    val wantView = StreamingJobs.boilerMaintView(spark, out, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dfState() = StreamingJobs.boilerMaintDf(spark, out)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantDf = dfState()
    val deleted = StreamingJobs.compactVersions(spark, out, keep = 2)
    assert(deleted == Seq(0L, 2L, 3L), s"unexpected deletions: $deleted")
    assert(graft.core.CommitLog.committedVersions(spark, out, "v=") == Seq(4L),
      "only the newest delta should remain")
    assert(graft.core.CommitLog.committedVersions(spark, out, "base_v=") == Seq(2L),
      "the fold target must be a committed base at the second-newest version")
    assert(graft.core.ArtifactIO.exists(spark, s"$out/v=9"),
      "compaction removed the in-flight (uncommitted, newest) version")
    assert(intercept[IllegalArgumentException] {
      StreamingJobs.compactVersions(spark, out, keep = 1)
    }.getMessage.contains("replay-predecessor"),
      "keep=1 must be rejected for sink states")
    val afterView = StreamingJobs.boilerMaintView(spark, out, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterView == wantView, "compaction changed the reader-visible view")
    // the checkpoint-crash window: batch 4 is REDELIVERED after
    // compaction — it must rebuild from base_v=2 (kept) and land the
    // same state it originally produced
    StreamingJobs.boilerMaintSink(out)(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), 4L)
    assert(dfState() == wantDf, "post-compaction replay of the newest batch diverged")
    // chain still live: a later batch merges against the kept state
    val planted = Seq((910001L, "compactprobe")).toDF("doc_id", "text")
    StreamingJobs.boilerMaintSink(out)(planted, 6L)
    val merged = dfState()
    assert(merged.view.filterKeys(wantDf.contains).toMap == wantDf,
      "post-compaction merge lost accumulated frequencies")
    assert(merged.size == wantDf.size + 1, "planted chunk missing after post-compaction batch")
    // a second compaction folds again: {base_v=2, v=4, v=6} → fold ≤ 4
    // into base_v=4; the view is still bit-identical
    val deleted2 = StreamingJobs.compactVersions(spark, out, keep = 2)
    assert(deleted2 == Seq(2L, 4L), s"second fold deletions: $deleted2")
    assert(graft.core.CommitLog.committedVersions(spark, out, "base_v=") == Seq(4L))
    assert(dfState() == merged, "second compaction changed the df state")
  }

  test("curateStream: admission-time curation; replays/redeliveries curate nothing twice; final batch equals one-shot") {
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-curate").toString
    // the quality gate: the canonical battery gate over the cleaned text
    val gate = graft.queries.QueriesText.repetitionKeep _
    val admitted = (0 until 3).map { b =>
      val part = docs.filter(pmod(col("doc_id"), lit(3)) === b)
      // batch 1 arrives with every row duplicated WITHIN the microbatch
      // (at-least-once inside one batch): the served-ids screen is
      // cross-batch only, so without the ingest-side doc_id dedup the
      // gate would see doubled repetition counts, flag clean docs, and
      // lose them forever (ids would still record them as served).
      val delivered = if (b == 1) part.unionByName(part) else part
      StreamingJobs.curateStream(out, gate = gate)(delivered, b.toLong)
    }
    assert(admitted.sum > 0, "degenerate fixture: nothing curated")
    // the duplicated batch admits like a clean one — a double-count
    // regression collapses this toward zero
    val batch1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1).count()
    assert(admitted(1) * 10 >= batch1 * 9,
      s"within-batch duplicates depressed admissions: ${admitted(1)} of $batch1")
    def table() = StreamingJobs.curatedDocs(spark, out)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Int]("__batch_id"))).toSet
    val before = table()
    // no doc curated twice across batches
    assert(before.groupBy(_._1).forall(_._2.size == 1))
    // REPLAY of the last batch (the checkpoint-crash window): the state
    // rebuilds from v=1 and the curated v=2 dir is rewritten — table
    // unchanged, same admission count
    val replayCount = StreamingJobs.curateStream(out, gate = gate)(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L)
    assert(replayCount == admitted(2), "replay admitted a different count")
    assert(table() == before, "replay changed the curated table")
    // cross-batch REDELIVERY as a genuinely new batch: the served-ids
    // screen admits nothing
    val redeliverCount = StreamingJobs.curateStream(out, gate = gate)(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), 3L)
    assert(redeliverCount == 0L, "redelivered docs were re-curated")
    assert(table() == before, "redelivery changed the curated table")
    // the LAST real batch's admissions equal the one-shot transform:
    // after batch 2 the accumulated view is the full-corpus frequency
    // table, so cleaning + gating batch-2 docs matches the batch
    // pipeline exactly (text for text)
    val oneShotCleaned = graft.dedup.Dedup.removeBoilerplate(docs, 5, 3)
      .select(col("doc_id"), col("clean_text").as("text"))
    val oneShotKept = gate(oneShotCleaned)
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val streamedB2 = before.filter(_._3 == 2).map(t => (t._1, t._2))
    assert(streamedB2 == oneShotKept,
      "final-batch admissions diverge from the one-shot clean+gate")

    // PERIODIC RE-CLEAN closes the admission-time gap: before it, the
    // EARLY batches reflect partial boilerplate evidence (the honest
    // contract) — after it, EVERY batch's curated text equals the
    // one-shot clean+gate, batch attribution preserved.
    val oneShotAll = gate(graft.dedup.Dedup.removeBoilerplate(docs, 5, 3)
        .select(col("doc_id"), col("clean_text").as("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val earlyGap = before.filter(_._3 < 2).map(t => (t._1, t._2))
      .diff(oneShotAll.filter { case (id, _) => id % 3 != 2 })
    assert(earlyGap.nonEmpty,
      "degenerate fixture: admission-time cleaning already equals the one-shot " +
        "for early batches — the re-clean spec would be vacuous")
    val total = StreamingJobs.recleanCurated(spark, out, gate = gate)
    assert(total == oneShotAll.size.toLong,
      s"re-clean total $total vs one-shot ${oneShotAll.size}")
    val after = table()
    (0 until 3).foreach { b =>
      val gotB = after.filter(_._3 == b).map(t => (t._1, t._2))
      val wantB = oneShotAll.filter { case (id, _) => id % 3 == b }
      assert(gotB == wantB,
        s"batch $b curated content diverges from the one-shot clean+gate after re-clean")
    }
  }

  test("curateStream multi-store crash injection: no torn state on any read path; replay converges to a never-crashed twin") {
    // curateStream commits THREE stores per batch (boiler state, raw
    // archive, curated table) WITHOUT a joint transaction — the doc
    // argues a crash between any two is invisible because every write
    // is idempotent and replay-driven. This test stops arguing and
    // injects the two crash windows, checking every read path in the
    // torn state and convergence after replay against a twin run that
    // never crashed.
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select("doc_id", "text")
    val gate = graft.queries.QueriesText.repetitionKeep _
    val out = java.nio.file.Files.createTempDirectory("graft-curate-crash").toString
    val ref = java.nio.file.Files.createTempDirectory("graft-curate-ref").toString
    def part(b: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === b)
    def curated(dir: String) = StreamingJobs.curatedDocs(spark, dir)
      .select("doc_id", "text", "__batch_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    def raw(dir: String) = spark.read.parquet(s"$dir/raw")
      .select("doc_id", "text", "__batch_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    def boilerDf(dir: String) = StreamingJobs.boilerMaintDf(spark, s"$dir/boiler")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 2).foreach { b =>
      StreamingJobs.curateStream(out, gate = gate)(part(b), b.toLong)
      StreamingJobs.curateStream(ref, gate = gate)(part(b), b.toLong)
    }
    val prefixCurated = curated(out)
    val prefixRaw = raw(out)

    // CRASH WINDOW 1 (batch 2): boiler state + raw committed, curated
    // write never happens
    val admitted2 = StreamingJobs.boilerMaintIngest(s"$out/boiler", 5)(part(2), 2L)
    val novel2 = admitted2.select("doc_id", "text")
    StreamingJobs.idempotentParquetSink(s"$out/raw")(novel2, 2L)
    admitted2.unpersist()
    // torn-window read paths: the curated table is EXACTLY the
    // pre-crash prefix (never a partial batch), raw is ahead by the
    // crashed batch's dir (its consumer recleanCurated is replay-safe)
    assert(curated(out) == prefixCurated, "torn window leaked a partial curated batch")
    assert(raw(out).map(_._3).contains(2) && (raw(out) -- prefixRaw).forall(_._3 == 2))
    // replay through the normal body (what the stream's checkpoint
    // does), and the same batch on the never-crashed twin
    val nOut = StreamingJobs.curateStream(out, gate = gate)(part(2), 2L)
    val nRef = StreamingJobs.curateStream(ref, gate = gate)(part(2), 2L)
    assert(nOut == nRef, s"replayed admission count $nOut vs twin $nRef")
    assert(curated(out) == curated(ref), "crashed run diverged from the twin (curated)")
    assert(raw(out) == raw(ref), "crashed run diverged from the twin (raw)")
    assert(boilerDf(out) == boilerDf(ref), "crashed run diverged from the twin (boiler state)")

    // CRASH WINDOW 2 (batch 3): ONLY the boiler state commits — crash
    // before even the raw write
    StreamingJobs.boilerMaintIngest(s"$out/boiler", 5)(part(3), 3L).unpersist()
    assert(curated(out) == curated(ref) && raw(out) == raw(ref),
      "state-only crash window must leave raw/curated untouched")
    val nOut3 = StreamingJobs.curateStream(out, gate = gate)(part(3), 3L)
    val nRef3 = StreamingJobs.curateStream(ref, gate = gate)(part(3), 3L)
    assert(nOut3 == nRef3)
    assert(curated(out) == curated(ref) && raw(out) == raw(ref) &&
      boilerDf(out) == boilerDf(ref), "crash window 2 replay diverged from the twin")

    // and the maintenance job is crash-oblivious too: re-clean both
    // runs, stores stay equal
    StreamingJobs.recleanCurated(spark, out, gate = gate)
    StreamingJobs.recleanCurated(spark, ref, gate = gate)
    assert(curated(out) == curated(ref), "re-clean diverged after the crash history")
    assert(curated(out).nonEmpty)
  }

  test("Observation on a DataFrameWriter parquet write: exact row count when non-empty, empty at run time, and two in parallel") {
    // curateStream and recleanCurated take their returned counts from an
    // Observation on the write itself; this pins the Spark behaviour they
    // rely on. Every wait is bounded: a regression fails, never hangs.
    import scala.concurrent.Await
    import scala.concurrent.duration._
    import org.apache.spark.sql.{DataFrame, Observation}
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-observe").toString
    def observedWrite(df: DataFrame, name: String): Observation = {
      val o = Observation()
      df.observe(o, count(lit(1)).as("n")).write.mode("overwrite").parquet(s"$dir/$name")
      o
    }
    def observed(o: Observation): Long = Await.result(o.future, 60.seconds).getAs[Long]("n")
    def written(name: String): Long = spark.read.parquet(s"$dir/$name").count()

    val all = observed(observedWrite(docs, "all"))
    assert(all == docs.count() && all == written("all") && all > 0)
    // a left_anti that removes every row: empty only at run time, so
    // AQE may replace the plan with an empty relation
    val none = observed(observedWrite(
      docs.join(docs.select("doc_id"), Seq("doc_id"), "left_anti"), "none"))
    assert(none == 0L && written("none") == 0L)
    val (even, odd) = graft.core.ArtifactIO.inParallel2(
      () => observedWrite(docs.filter(pmod(col("doc_id"), lit(2)) === 0), "even"),
      () => observedWrite(docs.filter(pmod(col("doc_id"), lit(2)) === 1), "odd"))
    assert(observed(even) == written("even") && observed(odd) == written("odd"))
    assert(observed(even) + observed(odd) == all)
  }

  test("curateStream job budget: a steady-state batch stays within its Spark job budget, the same on a repeat; curate and re-clean pin nothing") {
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val gate = graft.queries.QueriesText.repetitionKeep _
    val out = java.nio.file.Files.createTempDirectory("graft-curate-budget").toString
    def part(b: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === b)
    (0 until 2).foreach(b => StreamingJobs.curateStream(out, gate = gate)(part(b), b.toLong))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    import org.apache.spark.sql.graft.SparkInternals
    // (jobs run, cache-manager entries added, RDDs left persisted) by one call
    def measured[T](body: => T): (T, Int, Int, Set[Int]) = {
      SparkInternals.drainListeners(sc)
      val (entries, rdds) = (SparkInternals.cachedEntries(spark), sc.getPersistentRDDs.keySet.toSet)
      jobs.set(0)
      sc.addSparkListener(listener)
      val r = try body finally {
        SparkInternals.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
      (r, jobs.get, SparkInternals.cachedEntries(spark) - entries,
        sc.getPersistentRDDs.keySet.toSet -- rdds)
    }
    // the third batch, then its replay: the same predecessor state, so
    // the same plan and the same job count
    val (n, first, entries, pinned) =
      measured(StreamingJobs.curateStream(out, gate = gate)(part(2), 2L))
    val (nReplay, replay, _, _) =
      measured(StreamingJobs.curateStream(out, gate = gate)(part(2), 2L))
    assert(n > 0 && nReplay == n)
    // the served-ids screen (batch dedup shuffle, ids broadcast), the two
    // delta writes with the chunk-df shuffle, the raw archive write, and
    // the curated write with its view and boilerplate joins; the count
    // is observed on the curated write, so it runs no job of its own
    val budget = 11
    assert(first <= budget, s"a steady-state curate batch ran $first jobs (budget $budget)")
    assert(replay == first, s"identical curate calls ran $first and $replay jobs")
    assert(entries == 0 && pinned.isEmpty,
      s"curateStream left $entries cache entries and persisted RDDs $pinned")
    val (total, recleanJobs, recleanEntries, recleanPinned) =
      measured(StreamingJobs.recleanCurated(spark, out, gate = gate))
    assert(total == StreamingJobs.curatedDocs(spark, out).count())
    // the raw archive is read with its known data schema: no footer
    // inference job before the rewrite
    val recleanBudget = 6
    assert(recleanJobs <= recleanBudget,
      s"a re-clean ran $recleanJobs jobs (budget $recleanBudget)")
    assert(recleanEntries == 0 && recleanPinned.isEmpty,
      s"recleanCurated left $recleanEntries cache entries and persisted RDDs $recleanPinned")
  }

  test("retention composes with replays: randomized delivery/replay/compaction schedules converge") {
    // Fixed-seed random schedules over four disjoint document batches:
    // each step delivers the next batch, MAY immediately redeliver it
    // (the foreachBatch retry), and MAY run keep=2 compaction at any
    // point — including between a batch's commit and its redelivery,
    // the exact window the keep >= 2 floor exists for. Every schedule
    // must converge to the one-shot distinct-doc frequency table.
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
    val want = graft.dedup.Dedup.chunkOccurrences(docs, 5)
      .select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(20260814L)
    (0 until 3).foreach { trial =>
      val out = java.nio.file.Files.createTempDirectory(s"graft-compact-sched$trial").toString
      (0 until 4).foreach { b =>
        val part = docs.filter(pmod(col("doc_id"), lit(4)) === b)
        StreamingJobs.boilerMaintSink(out)(part, b.toLong)
        if (rnd.nextBoolean()) StreamingJobs.compactVersions(spark, out, keep = 2)
        if (rnd.nextBoolean()) { // redelivery of the just-committed batch
          StreamingJobs.boilerMaintSink(out)(part, b.toLong)
        }
        if (rnd.nextBoolean()) StreamingJobs.compactVersions(spark, out, keep = 2)
      }
      val got = StreamingJobs.boilerMaintDf(spark, out)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"schedule $trial diverged from the one-shot counts")
    }
  }

  test("delta sink states: per-batch bytes written scale with the batch, not the state") {
    // The round-9 verdict's scale finding: the old layout rewrote the
    // FULL state every batch — O(batches × state) on disk and O(state)
    // IO per batch. The delta layout must write O(batch): after a big
    // batch 0 builds real state, tiny batches must land tiny versions.
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    // boilerMaint: full corpus, then 2-doc batches
    val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")
    val bout = java.nio.file.Files.createTempDirectory("graft-delta-bytes-b").toString
    StreamingJobs.boilerMaintSink(bout)(docs, 0L)
    (1 to 3).foreach { b =>
      StreamingJobs.boilerMaintSink(bout)(
        Seq((920000L + b * 2, s"tiny planted doc $b"), (920001L + b * 2, s"another tiny $b"))
          .toDF("doc_id", "text"), b.toLong)
    }
    val bBig = dirBytes(s"$bout/v=0")
    (1 to 3).foreach { b =>
      val sz = dirBytes(s"$bout/v=$b")
      assert(sz * 4 < bBig,
        s"boilerMaint delta v=$b is $sz bytes vs $bBig for the full-state batch — not O(batch)")
    }
    // aggMaint: a 50k-distinct-user synthetic batch (the real sf0.001 /
    // sf0.01 states are 3-6 KB — at parquet's ~2.5 KB per-file floor the
    // ratio would measure format overhead, not delta size), then a
    // single-row batch
    val events = spark.range(50000).select(
      col("id").as("user_id"), col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
      concat(lit("t"), pmod(col("id"), lit(7))).as("event_type"),
      (col("id") % 100).cast("double").as("value"))
    val aout = java.nio.file.Files.createTempDirectory("graft-delta-bytes-a").toString
    StreamingJobs.aggMaintSink(aout)(events, 0L)
    StreamingJobs.aggMaintSink(aout)(
      Seq((999999L, 999999L, new java.sql.Timestamp(4102444800L * 1000L), "probe", 1.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value"), 1L)
    val aBig = dirBytes(s"$aout/v=0")
    val aTiny = dirBytes(s"$aout/v=1")
    assert(aTiny * 4 < aBig,
      s"aggMaint delta v=1 is $aTiny bytes vs $aBig for the full-state batch — not O(batch)")
    // and the view over base+deltas equals what full-copy storage gave:
    // state totals are already pinned by the other suites; here pin that
    // compaction folds the tiny deltas away and bytes return to O(state)
    StreamingJobs.compactVersions(spark, bout, keep = 2)
    val base = graft.core.CommitLog.committedVersions(spark, bout, "base_v=")
    assert(base.nonEmpty && dirBytes(s"$bout/base_v=${base.max}") * 2 > bBig,
      "the folded base should carry the accumulated state")
  }

  test("delta-state time travel: as-of v == the prefix replay at every v; below the compaction floor the read refuses, never a partial state") {
    def ev(u: Long, id: Long, s: Long, t: String, v: Double) =
      (u, id, new java.sql.Timestamp(s * 1000L), t, v)
    val batches = Seq(
      Seq(ev(1L, 10L, 100L, "A", 5.0), ev(2L, 11L, 100L, "B", 3.0)),
      Seq(ev(3L, 12L, 110L, "A", 2.0)),
      Seq(ev(1L, 13L, 120L, "B", 4.0)), // moves user 1's value A -> B
      Seq(ev(4L, 14L, 130L, "C", 1.0)))
      .map(_.toDF("user_id", "event_id", "ts", "event_type", "value"))
    val out = java.nio.file.Files.createTempDirectory("graft-tt").toString
    batches.zipWithIndex.foreach { case (b, i) => StreamingJobs.aggMaintSink(out)(b, i.toLong) }
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // ground truth per version: replay only batches 0..v into a fresh dir
    val want = (0 to 3).map { v =>
      val d = java.nio.file.Files.createTempDirectory(s"graft-tt-$v").toString
      (0 to v).foreach(i => StreamingJobs.aggMaintSink(d)(batches(i), i.toLong))
      v -> m(StreamingJobs.aggMaintView(spark, d))
    }.toMap
    (0 to 3).foreach { v =>
      val got = StreamingJobs.aggMaintViewAsOf(spark, out, v.toLong)
      assert(got.isDefined, s"as-of $v should be readable before compaction")
      assert(m(got.get) == want(v), s"as-of $v != replay of batches 0..$v")
    }
    assert(m(StreamingJobs.aggMaintView(spark, out)) == want(3),
      "current view must equal as-of the latest version")
    // compact to keep=2 reconstruction points: base_v=2 + delta v=3
    StreamingJobs.compactVersions(spark, out, keep = 2)
    (2 to 3).foreach { v =>
      assert(m(StreamingJobs.aggMaintViewAsOf(spark, out, v.toLong).get) == want(v),
        s"as-of $v must survive compaction (at/above the floor)")
    }
    (0 to 1).foreach { v =>
      assert(StreamingJobs.aggMaintViewAsOf(spark, out, v.toLong).isEmpty,
        s"as-of $v is below the compaction floor and must refuse — a merged result here would be a silently partial state")
    }
  }

  test("change data feed: CDF(from,to) == snapshot diff at every version pair; classification and refusal contracts hold") {
    def ev(u: Long, id: Long, s: Long, t: String, v: Double) =
      (u, id, new java.sql.Timestamp(s * 1000L), t, v)
    val raw = Seq(
      Seq(ev(1L, 10L, 100L, "A", 5.0), ev(2L, 11L, 100L, "B", 3.0)),
      Seq(ev(3L, 12L, 110L, "A", 2.0)),
      Seq(ev(1L, 13L, 120L, "B", 4.0)), // user 1 moves A -> B (an update)
      Seq(ev(4L, 14L, 130L, "C", 1.0)))
    val batches = raw.map(_.toDF("user_id", "event_id", "ts", "event_type", "value"))
    val out = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    batches.zipWithIndex.foreach { case (b, i) => StreamingJobs.aggMaintSink(out)(b, i.toLong) }
    // ground truth: per-user winner by (ts, event_id) over batches 0..v
    def stateUpTo(v: Int): Map[Long, (Long, String)] =
      raw.take(v + 1).flatten.groupBy(_._1)
        .map { case (u, rs) => u -> { val w = rs.maxBy(r => (r._3.getTime, r._2)); (w._2, w._4) } }
    def wantDiff(f: Int, t: Int): Set[(Long, String, Option[Long], Option[Long])] = {
      val (p, q) = (if (f < 0) Map.empty[Long, (Long, String)] else stateUpTo(f), stateUpTo(t))
      (p.keySet ++ q.keySet).flatMap { u =>
        (p.get(u), q.get(u)) match {
          case (None, Some(n)) => Some((u, "insert", None, Some(n._1)))
          case (Some(o), None) => Some((u, "delete", Some(o._1), None))
          case (Some(o), Some(n)) if o != n => Some((u, "update", Some(o._1), Some(n._1)))
          case _ => None
        }
      }
    }
    def got(f: Int, t: Int): Set[(Long, String, Option[Long], Option[Long])] =
      StreamingJobs.aggMaintKeyChanges(spark, out, f.toLong, t.toLong).get.collect().map { r =>
        val i = r.fieldIndex _
        (r.getLong(i("user_id")), r.getString(i("change")),
          if (r.isNullAt(i("pre_event_id"))) None else Some(r.getLong(i("pre_event_id"))),
          if (r.isNullAt(i("post_event_id"))) None else Some(r.getLong(i("post_event_id"))))
      }.toSet
    for (f <- -1 to 2; t <- (f + 1) to 3)
      assert(got(f, t) == wantDiff(f, t), s"CDF($f,$t) != snapshot diff")
    // non-vacuity: the fixture produces both kinds
    assert(got(0, 3).exists(_._2 == "insert") && got(0, 3).exists(_._2 == "update"))
    // Sum-kind CDF over the agg table agrees with the recomputed diff
    def aggState(v: Int): Map[String, (Double, Long)] =
      stateUpTo(v).toSeq.map { case (u, (id, t)) =>
        val vl = raw.flatten.find(_._2 == id).get._5; (t, vl)
      }.groupBy(_._1).map { case (t, rs) => t -> (rs.map(_._2).sum, rs.size.toLong) }
    val aggGot = StreamingJobs.aggMaintAggChanges(spark, out, 1L, 3L).get.collect().map { r =>
      val i = r.fieldIndex _
      (r.getString(i("event_type")), r.getString(i("change")),
        if (r.isNullAt(i("post_total_value"))) None else Some(r.getDouble(i("post_total_value"))),
        if (r.isNullAt(i("post_n_users"))) None else Some(r.getLong(i("post_n_users"))))
    }.toSet
    val aggWant = {
      val (p, q) = (aggState(1), aggState(3))
      (p.keySet ++ q.keySet).flatMap { t =>
        (p.get(t), q.get(t)) match {
          case (None, Some(n)) => Some((t, "insert", Some(n._1), Some(n._2)))
          case (Some(_), None) => Some((t, "delete", None: Option[Double], None: Option[Long]))
          case (Some(o), Some(n)) if o != n => Some((t, "update", Some(n._1), Some(n._2)))
          case _ => None
        }
      }
    }
    assert(aggGot == aggWant, s"agg CDF(1,3): got $aggGot want $aggWant")
    // compaction: range fully in retained deltas -> sliced path still
    // serves; a from-endpoint below the floor REFUSES (a feed that
    // silently relabeled folded history as inserts would corrupt
    // consumers); from = -1 (since empty) stays answerable via the base
    StreamingJobs.compactVersions(spark, out, keep = 2)
    assert(got(2, 3) == wantDiff(2, 3), "CDF(2,3) must survive compaction")
    assert(got(-1, 3) == wantDiff(-1, 3), "CDF(-1,3) diffs against empty via the base")
    assert(StreamingJobs.aggMaintKeyChanges(spark, out, 0L, 3L).isEmpty,
      "CDF(0,3) reaches below the compaction floor and must refuse")
  }

  test("time travel is merge-kind-generic: hllMaint as-of v == the prefix replay (idempotent HllMax)") {
    val out = java.nio.file.Files.createTempDirectory("graft-tt-hll").toString
    // overlapping user ranges across batches, so later versions genuinely
    // extend (not replace) each group's register state
    val batches = (0 until 3).map { b =>
      spark.range(b * 40L, b * 40L + 60L).select(
        concat(lit("t"), pmod(col("id"), lit(3))).as("event_type"),
        col("id").as("user_id"))
    }
    batches.zipWithIndex.foreach { case (df, i) => StreamingJobs.hllMaintSink(out)(df, i.toLong) }
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("event_type", "est_distinct").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    (0 until 3).foreach { v =>
      val d = java.nio.file.Files.createTempDirectory(s"graft-tt-hll-$v").toString
      (0 to v).foreach(i => StreamingJobs.hllMaintSink(d)(batches(i), i.toLong))
      val got = StreamingJobs.hllMaintViewAsOf(spark, out, v.toLong)
      assert(got.isDefined, s"hll as-of $v should be readable")
      assert(m(got.get) == m(StreamingJobs.hllMaintView(spark, d)),
        s"hll as-of $v != replay of batches 0..$v")
    }
    assert(m(StreamingJobs.hllMaintView(spark, out)) ==
      m(StreamingJobs.hllMaintViewAsOf(spark, out, 2L).get),
      "current view must equal as-of the latest version")
  }

  test("aggMaint: late-arriving upserts older than the key's snapshot row do not regress the view") {
    // Cross-batch OUT-OF-ORDER delivery: batch 0 carries user 1's ts=100
    // row; batch 1 redelivers an OLDER ts=50 row for the same user (plus
    // a genuinely newer row for user 2). The late row must be dropped at
    // the delta — the view converges to the true latest-per-key, exactly
    // what a from-scratch recompute over all delivered rows gives.
    val out = java.nio.file.Files.createTempDirectory("graft-ivm-late").toString
    def ev(u: Long, id: Long, s: Long, t: String, v: Double) =
      (u, id, new java.sql.Timestamp(s * 1000L), t, v)
    val b0 = Seq(ev(1L, 10L, 100L, "A", 5.0), ev(2L, 11L, 100L, "B", 3.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val b1 = Seq(ev(1L, 5L, 50L, "C", 99.0), ev(2L, 12L, 200L, "A", 7.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    StreamingJobs.aggMaintSink(out)(b0, 0L)
    StreamingJobs.aggMaintSink(out)(b1, 1L)
    def view() = StreamingJobs.aggMaintView(spark, out)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // latest per key over ALL delivered rows: user1 → (A, 5.0) [ts=100
    // beats the late ts=50], user2 → (A, 7.0)
    val got = view()
    assert(got == Map("A" -> ((12.0, 2L))),
      s"late row regressed the view: $got (user 1 must stay at its ts=100 snapshot row)")
    // replaying the late batch is still a no-op
    StreamingJobs.aggMaintSink(out)(b1, 1L)
    assert(view() == Map("A" -> ((12.0, 2L))), "replay of the late batch changed the view")
  }

  test("aggMaint: an uncommitted (crashed-between-writes) version is never selected") {
    val out = java.nio.file.Files.createTempDirectory("graft-ivm-crash").toString
    def ev(u: Long, id: Long, s: Long, t: String, v: Double) =
      (u, id, new java.sql.Timestamp(s * 1000L), t, v)
    val b0 = Seq(ev(1L, 10L, 100L, "A", 5.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val b1 = Seq(ev(2L, 11L, 200L, "B", 3.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    StreamingJobs.aggMaintSink(out)(b0, 0L)
    // simulate a crash between aggMaintSink's two writes at v=1: keys
    // landed, agg did not, no commit marker
    b0.select("user_id", "event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$out/v=1/keys")
    // the view must still read v=0, not the torn v=1
    assert(StreamingJobs.aggMaintView(spark, out).count() == 1L,
      "aggMaintView selected an uncommitted version")
    // the next (replayed-id or later) batch rebuilds from v=0 and
    // produces the same view as in-order processing would have
    StreamingJobs.aggMaintSink(out)(b1, 1L)
    val got = StreamingJobs.aggMaintView(spark, out)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got == Map("A" -> ((5.0, 1L)), "B" -> ((3.0, 1L))),
      s"recovery from a torn version diverged: $got")
  }

  test("join-view maintenance: orders ⋈ lineitem revenue per priority stays equal to recompute under interleaved upserts to both sides") {
    val out = java.nio.file.Files.createTempDirectory("graft-jvm").toString
    def leftRows(df: org.apache.spark.sql.DataFrame, batchTs: Long) = df.select(
      col("o_orderkey").as("k"), timestamp_seconds(lit(batchTs)).as("ts"),
      col("o_orderpriority").as("grp"))
    def rightRows(df: org.apache.spark.sql.DataFrame, batchTs: Long) = df.select(
      col("rk"), col("l_orderkey").as("k"), timestamp_seconds(lit(batchTs)).as("ts"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("v"))
    val orders = graft.core.Tables(spark, sf("sf0.001"), "orders")
    // the synthetic lineitem has duplicate (orderkey, linenumber) pairs,
    // so the detail key must be a synthesized row id (any total order
    // works — full duplicates get distinct rks with identical payloads)
    val lineitem = graft.core.Tables(spark, sf("sf0.001"), "lineitem")
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")).cast("long"))
      .persist()
    val (ordA, ordB) = (orders.filter(col("o_orderkey") % 2 === 0), orders.filter(col("o_orderkey") % 2 =!= 0))
    val (liA, liB) = (lineitem.filter(col("rk") % 2 === 0), lineitem.filter(col("rk") % 2 =!= 0))

    def view() = StreamingJobs.joinMaintView(spark, out)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    def recompute(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("tv"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    def assertClose(got: Map[String, (Double, Long)], want: Map[String, (Double, Long)], tag: String): Unit = {
      assert(got.keySet == want.keySet, s"$tag groups: ${got.keySet} vs ${want.keySet}")
      got.foreach { case (g, (tv, n)) =>
        assert(n == want(g)._2, s"$tag group $g n_items: $n vs ${want(g)._2}")
        assert(math.abs(tv - want(g)._1) < 1e-6, s"$tag group $g total_v: $tv vs ${want(g)._1}")
      }
    }

    // interleave: left half, right half, left rest, right rest — each
    // side's later batch joins against the OTHER side's current state
    StreamingJobs.joinMaintLeftSink(out)(leftRows(ordA, 100L), 0L)
    StreamingJobs.joinMaintRightSink(out)(rightRows(liA, 100L), 1L)
    assertClose(view(), recompute(ordA, liA), "after ordersA+lineitemA")
    StreamingJobs.joinMaintLeftSink(out)(leftRows(ordB, 200L), 2L)
    // details for not-yet-arrived orders (liA ⋈ ordB) must appear now
    assertClose(view(), recompute(orders, liA), "after ordersB")
    StreamingJobs.joinMaintRightSink(out)(rightRows(liB, 200L), 3L)
    val full = recompute(orders, lineitem)
    assertClose(view(), full, "after all four batches")

    // at-least-once replay of the last batch is a no-op
    StreamingJobs.joinMaintRightSink(out)(rightRows(liB, 200L), 3L)
    assertClose(view(), full, "replay of lineitemB")

    // a LATE left upsert (older ts than the snapshot row) must not move
    // its order's revenue to the stale priority
    val someKey = orders.select("o_orderkey").orderBy("o_orderkey").first().getLong(0)
    val late = leftRows(orders.filter(col("o_orderkey") === someKey), 50L)
      .withColumn("grp", lit("9-STALE"))
    StreamingJobs.joinMaintLeftSink(out)(late, 4L)
    assertClose(view(), full, "late left upsert ignored")

    // a GENUINE group move: same key, newer ts, new priority — the view
    // must move exactly that order's revenue between groups
    val move = leftRows(orders.filter(col("o_orderkey") === someKey), 300L)
      .withColumn("grp", lit("9-MOVED"))
    StreamingJobs.joinMaintLeftSink(out)(move, 5L)
    val movedOrders = orders.withColumn("o_orderpriority",
      when(col("o_orderkey") === someKey, lit("9-MOVED")).otherwise(col("o_orderpriority")))
    assertClose(view(), recompute(movedOrders, lineitem), "group move applied by delta")

    // and a RIGHT-side value upsert: replace one line item at double the
    // price — revenue delta flows to the order's current group, count
    // unchanged (rk already existed)
    val oneRk = lineitem.filter(col("l_orderkey") === someKey)
      .orderBy("rk").first().getAs[Long]("rk")
    val oneLine = lineitem.filter(col("rk") === oneRk)
    StreamingJobs.joinMaintRightSink(out)(
      rightRows(oneLine.withColumn("l_extendedprice", col("l_extendedprice") * 2), 400L), 6L)
    val bumped = lineitem.withColumn("l_extendedprice",
      when(col("rk") === oneRk, col("l_extendedprice") * 2).otherwise(col("l_extendedprice")))
    assertClose(view(), recompute(movedOrders, bumped), "right-side value upsert applied by delta")
  }

  test("join-view maintenance driven by ONE tagged upsert stream equals recompute; replay idempotent") {
    // The production topology: both tables' upserts on a single stream
    // with a side tag, one foreachBatch, one version chain. Two chunks
    // so the second micro-batch's deltas run against real prior state.
    val out = java.nio.file.Files.createTempDirectory("graft-jvm-st").toString
    val stage = java.nio.file.Files.createTempDirectory("graft-jvm-in").toString
    val orders = graft.core.Tables(spark, sf("sf0.001"), "orders").filter(col("o_orderkey") < 400)
    val lineitem = graft.core.Tables(spark, sf("sf0.001"), "lineitem").filter(col("l_orderkey") < 400)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")).cast("long"))
      .persist()
    def tagged(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame, ts: Long) =
      o.select(lit("left").as("side"), col("o_orderkey").as("k"),
          timestamp_seconds(lit(ts)).as("ts"), col("o_orderpriority").as("grp"),
          lit(null).cast("long").as("rk"), lit(null).cast("double").as("v"))
        .unionByName(l.select(lit("right").as("side"), col("l_orderkey").as("k"),
          timestamp_seconds(lit(ts)).as("ts"), lit(null).cast("string").as("grp"),
          col("rk"), round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0).as("v")))
    tagged(orders.filter(col("o_orderkey") % 2 === 0), lineitem.filter(col("rk") % 2 === 0), 100L)
      .coalesce(1).write.mode("append").parquet(stage)
    val q = spark.readStream
      .schema("side STRING, k LONG, ts TIMESTAMP, grp STRING, rk LONG, v DOUBLE")
      .parquet(stage)
      .writeStream.foreachBatch(StreamingJobs.joinMaintSink(out) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-jvm-ck").toString)
      .start()
    q.processAllAvailable()
    tagged(orders.filter(col("o_orderkey") % 2 =!= 0), lineitem.filter(col("rk") % 2 =!= 0), 200L)
      .coalesce(1).write.mode("append").parquet(stage)
    q.processAllAvailable(); q.stop()
    def view() = StreamingJobs.joinMaintView(spark, out)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val want = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)).as("tv"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(view() == want, s"streamed tagged join-IVM diverges: ${view()} vs $want")
    // at-least-once: redeliver the LAST micro-batch under its own id
    StreamingJobs.joinMaintSink(out)(
      tagged(orders.filter(col("o_orderkey") % 2 =!= 0), lineitem.filter(col("rk") % 2 =!= 0), 200L), 1L)
    assert(view() == want, "replaying the tagged batch changed the view")
  }

  test("readEvents: files landing in a non-nano form under the empty-dir fallback schema fail loudly") {
    // Start the stream over an EMPTY staging dir (schema pinned to raw
    // int64 nanos), then land a file whose int64 ts values are µs-scale
    // — the silent-1000×-mis-scale trap. The guard must kill the query
    // with the staging-contract message, not let operators read
    // timestamps 1000× off.
    val d = java.nio.file.Files.createTempDirectory("graft-ev-fallback").toString
    val q = StreamingJobs.readEvents(spark, d)
      .writeStream.outputMode("append").format("memory").queryName("fallbackguard").start()
    q.processAllAvailable() // zero batches — schema came from the fallback
    Seq((1L, 1700000000000000L, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(d)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("not nano-scale")),
      s"expected the staging-contract guard, got: ${messages(err).take(2)}")
  }

  test("streamed IVF artifact parts search equal to a batch-built index; replay is idempotent") {
    val emb = graft.core.Tables(spark, sf("sf0.001"), "embeddings")
    val model = graft.sim.IvfIndex.train(emb, k = 16, iters = 0)
    val d = java.nio.file.Files.createTempDirectory("graft-embs").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    emb.filter(col("vec_id") < 250).coalesce(1).write.mode("append").parquet(d)
    val q = StreamingJobs.readEmbeddings(spark, d)
      .writeStream.outputMode("append")
      .foreachBatch(StreamingJobs.ivfArtifactSink(idx, model) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ivfidx-ck").toString)
      .start()
    q.processAllAvailable()
    emb.filter(col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable(); q.stop()

    val codes = StreamingJobs.ivfArtifactCodes(spark, idx)
    assert(codes.count() == emb.count(), "artifact must hold every ingested vector")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def res(c: org.apache.spark.sql.DataFrame) =
      graft.sim.IvfIndex.annTopK(c, queries, model, 10, 4)
        .select("query_id", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(res(codes) == res(graft.sim.IvfIndex.assign(emb, model)),
      "search over the streamed artifact must equal the batch-built index")

    // at-least-once replay of the last batch overwrites its own part
    StreamingJobs.ivfArtifactSink(idx, model)(emb.filter(col("vec_id") >= 250), 1L)
    assert(StreamingJobs.ivfArtifactCodes(spark, idx).count() == emb.count(),
      "a replayed batch must not duplicate vectors")
  }
}
