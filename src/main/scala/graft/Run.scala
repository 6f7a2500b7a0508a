package graft

import graft.core.Sessions
import graft.queries.Queries

/** CLI runner: execute a named catalog query against a test-data dir.
  *
  *   runMain graft.Run list
  *   runMain graft.Run <query> <sfDir> [outParquetDir]
  *
  * Without an output dir the first 20 rows print to stdout; with one, the
  * full result is written as parquet.
  */
object Run {
  def main(args: Array[String]): Unit = args.toList match {
    case "list" :: Nil =>
      Queries.all.keys.toSeq.sorted.foreach(println)
    case "occ-race" :: dir :: id :: rest =>
      // CROSS-PROCESS OCC PROOF (round-12 verdict item 3; N-writer form
      // round-13 item 7): N of these JVMs race claim+publishExclusive on
      // version ids of ONE table directory — some processes share an id
      // (a duel: exactly one winner), some hold distinct ids (all must
      // win). tools/occ_race.sh launches the fleet and audits winners,
      // claim leaks, and the committed end state. The in-JVM 8-thread
      // race in CommitLogSpec shares a process; this exercises the
      // O_EXCL claim across real processes. Protocol: print READY, spin
      // on <dir>/_GO, sleep a pid-seeded random stagger of at most
      // `rest.head` ms (production contention is STAGGERED arrivals,
      // not a synchronized barrier — 0/absent keeps the synchronized
      // duel), attempt the claim, publish on success. Exit 0 = winner,
      // 3 = loser (CommitConflict), anything else = broken atomicity.
      val spark = Sessions.local("graft-occ-race")
      try {
        import graft.core.{ArtifactIO, CommitLog}
        val pid = ProcessHandle.current().pid()
        println(s"[occ-race] READY pid=$pid")
        while (!ArtifactIO.exists(spark, s"$dir/_GO")) Thread.sleep(5)
        val maxDelayMs = rest.headOption.map(_.toLong).getOrElse(0L)
        if (maxDelayMs > 0) Thread.sleep(new java.util.Random(pid).nextLong(maxDelayMs))
        try {
          CommitLog.claim(spark, dir, "v=", id.toLong)
          ArtifactIO.mkdirs(spark, s"$dir/v=$id")
          CommitLog.publishExclusive(spark, s"$dir/v=$id")
          println(s"[occ-race] WINNER pid=$pid id=$id")
        } catch {
          case e: CommitLog.CommitConflict =>
            println(s"[occ-race] LOSER pid=$pid id=$id: ${e.getMessage}")
            spark.stop()
            sys.exit(3)
        }
      } finally spark.stop()
    case "time" :: q :: dir :: rest if Queries.all.contains(q) =>
      // In-JVM repeat timing (noop sink), startup excluded — the local
      // feedback loop for plan iteration; best-of-N like Bench.
      val spark = Sessions.local(s"graft-time-$q")
      val repeats = rest.headOption.map(_.toInt).getOrElse(3)
      try (1 to repeats).foreach { i =>
        val t0 = System.nanoTime()
        Queries.all(q)(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"[time] $q run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        spark.catalog.clearCache()
      } finally spark.stop()
    case "lifecycle" :: dir :: Nil =>
      // Scale probe for the two composed streaming lifecycles the
      // catalog gates on bounded fixtures (q190 doc window, q162 order
      // window): run them UNBOUNDED on `dir` (pass an 8x corpus) and
      // report wall time per phase plus per-batch bytes written, so
      // SCALING.md carries measured evidence that per-batch delta IO
      // stays O(batch) while accumulated state grows.
      val spark = Sessions.local("graft-lifecycle")
      import org.apache.spark.sql.functions._
      def du(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(p))
      }
      def timed[T](label: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        println(f"[lifecycle] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        r
      }
      try {
        // --- the q190 composition, unbounded: 3 curation batches + re-clean
        val out1 = "/tmp/graft_lifecycle_curate"
        graft.core.ArtifactIO.delete(spark, out1)
        val d = graft.core.Tables(spark, dir, "documents").select("doc_id", "text")
        val gate = graft.queries.QueriesText.repetitionKeep _
        (0 until 3).foreach { b =>
          val before = du(out1)
          timed(s"curate batch $b") {
            graft.streaming.StreamingJobs.curateStream(out1, gate = gate)(
              d.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong)
          }
          println(s"[lifecycle] curate batch $b bytes written: ${du(out1) - before}")
        }
        timed("reclean") {
          graft.streaming.StreamingJobs.recleanCurated(spark, out1, gate = gate)
        }
        val kept = timed("curated read") {
          graft.streaming.StreamingJobs.curatedDocs(spark, out1).count()
        }
        println(s"[lifecycle] curated docs: $kept, state bytes: ${du(out1)}")
        // --- the q219 composition on the full events table: 4 Sum-delta
        // batches, fold, as-of serve
        import graft.streaming.DeltaState
        val out2 = "/tmp/graft_lifecycle_features"
        graft.core.ArtifactIO.delete(spark, out2)
        val ev = graft.core.Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts").cast("timestamp").cast("long").as("sec"),
            round(col("value")).cast("long").as("v"),
            pmod(col("event_id"), lit(4)).as("b"))
        val layout = Seq(DeltaState.Table("daily", DeltaState.Sum(Seq("user_id", "day"))))
        (0 to 3).foreach { i =>
          val before = du(out2)
          timed(s"feature delta $i") {
            DeltaState.writeDelta(spark, out2, i.toLong, layout,
              Seq("daily" -> ev.filter(col("b") === i)
                .groupBy(col("user_id"), floor(col("sec") / 86400).as("day"))
                .agg(count(lit(1)).as("n_day"), sum("v").as("v_day"))))
          }
          println(s"[lifecycle] feature delta $i bytes written: ${du(out2) - before}")
        }
        val n = timed("fold + read") {
          DeltaState.asOf(spark, out2, layout.head).get.count()
        }
        println(s"[lifecycle] daily state rows: $n, state bytes: ${du(out2)}")
      } finally spark.stop()
    case "curate" :: dir :: rest =>
      // End-to-end ONLINE CURATION demo: the documents table delivered
      // as N batches through StreamingJobs.curateStream (served-ids
      // dedup -> incremental boilerplate clean -> repetition-battery
      // gate -> exactly-once curated append), then the per-batch
      // admission funnel and the final curated-table summary.
      import org.apache.spark.sql.functions._
      val nBatches = rest.headOption.map(_.toInt).getOrElse(3)
      val spark = Sessions.local("graft-curate")
      try {
        val out = java.nio.file.Files.createTempDirectory("graft-curate-run").toString
        val docs = graft.core.Tables(spark, dir, "documents").select("doc_id", "text")
        val gate = graft.queries.QueriesText.repetitionKeep _
        (0 until nBatches).foreach { b =>
          val part = docs.filter(pmod(col("doc_id"), lit(nBatches)) === b)
          val n = part.count()
          val t0 = System.nanoTime()
          val kept = graft.streaming.StreamingJobs.curateStream(out, gate = gate)(part, b.toLong)
          println(f"[curate] batch $b: $n%d delivered -> $kept%d curated " +
            f"in ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        // A corpus whose docs all fail the gate (or arrive pre-served)
        // writes no partitions — the read then fails schema inference
        // and empty aggregates return null; guard both.
        scala.util.Try(graft.streaming.StreamingJobs.curatedDocs(spark, out)) match {
          case scala.util.Success(cur) =>
            val s = cur.agg(count(lit(1)).as("docs"),
              coalesce(sum(col("n_tokens") - col("n_removed")), lit(0L)).as("toks"),
              coalesce(sum("n_removed"), lit(0L)).as("removed")).head
            println(s"[curate] curated table: ${s.getLong(0)} docs, " +
              s"${s.getLong(1)} surviving tokens, ${s.getLong(2)} boilerplate tokens removed")
          case scala.util.Failure(_) =>
            println("[curate] curated table: empty (no batch admitted any document)")
        }
      } finally spark.stop()
    case "oracle" :: q :: Nil if Queries.oracles.contains(q) =>
      // Print the DuckDB oracle SQL — pipe into duckdb for one-query
      // local verification without a full graft.Verify pass.
      println(Queries.oracles(q))
    case "explain" :: q :: dir :: Nil if Queries.all.contains(q) =>
      // Formatted physical plan — the plan-audit loop (pushdown, join
      // strategies, codegen spans) without running the query.
      val spark = Sessions.local(s"graft-explain-$q")
      try Queries.all(q)(spark, dir).explain("formatted") finally spark.stop()
    case q :: dir :: rest if Queries.all.contains(q) =>
      val spark = Sessions.local(s"graft-$q")
      try {
        val df = Queries.all(q)(spark, dir)
        rest match {
          case out :: Nil => df.write.mode("overwrite").parquet(out); println(s"wrote $out")
          case _          => df.show(20, truncate = false)
        }
      } finally spark.stop()
    case q :: _ :: _ =>
      System.err.println(s"unknown query '$q' — try: runMain graft.Run list"); sys.exit(2)
    case _ =>
      System.err.println("usage: graft.Run list | graft.Run <query> <sfDir> [outDir]"); sys.exit(2)
  }
}
