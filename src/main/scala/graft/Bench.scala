package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). The noop sink forces full
  * evaluation of every operator without write-path cost.
  */
object Bench {
  /** No Spark job on this host finishes in under ~50 ms (task scheduling
    * alone costs more), so a sub-floor "timing" is a failure that didn't
    * throw — e.g. a plan that died before launching work. Timings below
    * the floor are recorded as FAILURES, never as measurements: one
    * broken sweep in round 10 poisoned 37 bench_quiet.json entries with
    * 4–9 ms values because the old timeOnce caught the Throwable and
    * returned the elapsed time anyway.
    */
  val FloorSec = 0.05

  /** The 32×-replica sweep's AUDITED exclusion list. Each entry's TRUE
    * output is quadratic (or worse) in the replica corpus's
    * duplicate-family sizes — `make_scale` clones every document, so
    * within-family pair output grows ~1024× at 32× (measured and
    * attributed at 8×; SCALING.md round-11/12 addenda). That growth is
    * semantically required output, not a plan defect, and every family
    * has a capacity-aware production twin that IS in the sweep. Frozen
    * here and asserted by BenchSpec so the list cannot silently grow:
    * adding a 13th exclusion means editing this reviewed map with a
    * named reason (round-13 verdict item 3).
    */
  val Excluded32x: Map[String, String] = Map(
    "q19_ngram_jaccard" -> "exact τ=0.1 trigram pair OUTPUT: ~1024× within-family pairs on replicas (twin in-sweep: q90 prefix τ=0.8, q233 df-capped)",
    "q20_embedding_neardup" -> "exact cosine pair OUTPUT over replica twins (twin in-sweep: q98-auto SRP banding, q27 LSH)",
    "q40_srp_neardup" -> "fixed 24×8 SRP banding documented quadratic in duplicates (twin in-sweep: q98 occupancy-capped / srpParams auto)",
    "q46_dup_clusters" -> "consumes q19's quadratic pair graph (twin in-sweep: q91 prefix clusters, q233 df-capped clusters)",
    "q55_dup_clusters_star" -> "same q19 pair graph as q46, log-depth CC variant (same twins)",
    "q65_triangles" -> "triangle enumeration on the densified τ=0.1 graph — super-quadratic in family size",
    "q72_containment" -> "containment pair OUTPUT over all shingle-sharing pairs (twin in-sweep: q234 df-capped containment)",
    "q108_semantic_dedup" -> "fixed-k cells: identical replica chunks concentrate per cell → per-cell quadratic verify (twin in-sweep: q163's semauto path at gate scales / semauto probe)",
    "q149_span_removal" -> "OUTPUT-bound: replicas share almost every 10-token window, removal table approaches corpus size (twin in-sweep: q158 batch-scale span ingest)",
    "q163_semantic_trained" -> "trained cells collapse replica chunks together → per-cell quadratic verify (capacity-aware semauto variant is the scale path)",
    "q186_text_index" -> "chunk-hash groups collect all replicas of a chunk → per-group quadratic verify on ~32× group sizes",
    "q207_leakage_safe_split" -> "audits q46's τ=0.1 pair list — the pair LIST is the data (guarantee pinned at gate scales: n_cross_component = 0)")

  /** Time one run of a catalog query. None = the query FAILED (threw, or
    * finished impossibly fast — see [[FloorSec]]); a failed run must
    * never enter a minimum/fold as a timing.
    */
  def timeOnce(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      if (sec < FloorSec) {
        System.err.println(f"[bench] $name FAILED: sub-floor timing $sec%.4fs (< $FloorSec) — not a measurement")
        None
      } else Some(sec)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: $e")
        None
    }
  }

  /** The per-query JSON line (driver contract — frozen format; see the
    * comment at the print site). `results` is (name, seconds, load1m).
    */
  private[graft] def fullLine(results: Seq[(String, Double, Double)], sfDir: String,
      subset: Boolean, contended: Set[String], failed: Seq[String]): String = {
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val loads = results.map { case (k, _, l) => "\"" + k + "\":" + f"$l%.1f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val subsetFlag = if (subset) s""","subset":true""" else ""
    val contendedFull =
      if (contended.nonEmpty)
        s""","contended":[${contended.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]"""
      else ""
    val failedFull =
      if (failed.nonEmpty)
        s""","failed":[${failed.sorted.map("\"" + _ + "\"").mkString(",")}]"""
      else ""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"load1m":$loads,"sf":"$sfDir","n_queries":${results.size}$subsetFlag$contendedFull$failedFull}"""
  }

  /** The LAST-line compact summary (driver contract — frozen format,
    * fixed-size fields only so it always survives a ~2000-char tail
    * capture; see the comment at the print site).
    */
  private[graft] def compactLine(results: Seq[(String, Double, Double)], sfDir: String,
      subset: Boolean, maxLoad: Double, contendedN: Int, failedN: Int): String = {
    val total = results.map(_._2).sum
    val subsetFlag = if (subset) s""","subset":true""" else ""
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"slowest5":$slowest,"max_load1m":${f"$maxLoad%.1f"}$subsetFlag,"contended_n":$contendedN,"failed_n":$failedN}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Scale-adaptive initial shuffle partitioning (guide §2.2): the local
    // DEFAULT stays the core count — the driver's exact historical
    // protocol — while replica-scale probes (32x/100x corpora) can size
    // the initial partition count to data volume and let AQE coalesce
    // small partitions back down. A constant tuned to local[32] is
    // exactly what the q54 100x watch item (suspected per-partition
    // shuffle spill) exists to catch.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.core.Sessions.local("graft-bench", cpus)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    spark.sparkContext.setLogLevel("ERROR")
    // Untimed warmup: absorb JVM/codegen/scan-infrastructure startup so the
    // first measured query isn't charged ~5s of fixed cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.queries.get("q01_wordcount").foreach(fn => fn(spark, sfDir).count())
    catch { case _: Throwable => () }
    // Best-of-2 per query: the host is shared, so single-shot timings can
    // inflate 5-10x under outside contention; the minimum is the honest
    // estimate of the query's actual cost.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt
    // System 1-min load average sampled before each query: this process
    // should be the only load on the host, so readings far above the
    // (already-running) benchmark's own footprint mean OUTSIDE contention
    // — timings from such windows measure the host, not the plan.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // Optional comma-separated allowlist (scaling experiments run a
    // headline subset on larger-than-sf0.1 data); default = full catalog.
    // Subset runs are marked as such in the JSON.
    val allowed = graft.queries.Queries.allowlisted("SPARK_GRAFT_BENCH_QUERIES")
    // SPARK_GRAFT_BENCH_32X=1: the 32×-replica sweep — full catalog MINUS
    // the audited [[Excluded32x]] map, so the subset is derived from the
    // reviewed allowlist instead of a hand-typed name list (a typo or a
    // silently-grown exclusion set can no longer shrink the guard).
    val exclude32x: Set[String] =
      if (sys.env.get("SPARK_GRAFT_BENCH_32X").contains("1")) Excluded32x.keySet else Set.empty
    val selected = allowed.toSeq.sortBy(_._1)
      .filter { case (name, _) => !exclude32x.contains(name) }
    // SPARK_GRAFT_BENCH_SETTLE=<ms>: inter-query settle for the replica-
    // corpus sweeps. Spark's ContextCleaner releases the PREVIOUS query's
    // shuffle files and broadcast state only when a GC surfaces their
    // weak references — at 32×/100× each query leaves GBs of shuffle
    // state behind, so back-to-back timing charges query N with query
    // N−1's deferred cleanup and OS writeback (measured: q125 50 s in a
    // sweep window vs 3 s standalone, same plan). A forced GC plus a
    // short sleep drains that bleed before the next measurement. Off by
    // default: the driver's sf0.1 sweep keeps its exact historical
    // protocol (per-query state there is small enough not to matter).
    val settleMs = sys.env.get("SPARK_GRAFT_BENCH_SETTLE").map(_.toInt).getOrElse(0)
    def settle(): Unit = if (settleMs > 0) { System.gc(); Thread.sleep(settleMs) }
    val sweep = selected.map { case (name, fn) =>
      settle()
      val load = osBean.getSystemLoadAverage
      val times = (1 to repeats).flatMap(_ => timeOnce(spark, sfDir, name, fn))
      val sec = times.minOption
      sec match {
        case Some(s) =>
          System.err.println(f"[bench] $name $s%.2fs (runs: ${times.map(t => f"$t%.2f").mkString("/")}, load1m: $load%.1f)")
        case None =>
          System.err.println(f"[bench] $name FAILED all $repeats runs (load1m: $load%.1f)")
      }
      // Each query call builds fresh persisted subplans (shingle/norm
      // tables); drop them so cache memory doesn't creep across the run.
      spark.catalog.clearCache()
      (name, sec, load)
    }
    val failed = sweep.collect { case (name, None, _) => name }
    // Contention-proofing: a query timed while the host's 1-min load sat
    // far above this bench's own ~2-3 footprint measured the HOST, not
    // the plan (the BENCH_r04/r05/r07 failure mode). Re-run those once
    // more AFTER the sweep — by then the outside spike has usually
    // passed — and report the minimum, marking the JSON so the reader
    // knows which numbers were defended. On a quiet host the flagged set
    // is empty and this pass costs nothing.
    val LoadThreshold = 4.0
    // Second trigger (the r8 q138 lesson: a 12.7s-vs-3.3s outlier slipped
    // past the load sample because load1m is instantaneous and the spike
    // fell between readings): any query far above its RECORDED quiet-host
    // time re-runs too, load sample or not. The reference file is the
    // committed quiet-sweep snapshot (regenerated when the catalog
    // changes); queries absent from it — e.g. just-added ones — fall back
    // to the load trigger alone. 2.5× with a +1s absolute floor so
    // sub-second jitter on cheap queries never trips it. A sub-floor
    // reference entry would make the trigger fire on every sweep, so the
    // quiet file is floor-filtered on load (and fold_quiet.py refuses to
    // write such entries in the first place).
    val quietRef: Map[String, Double] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET", "/root/repo/bench_quiet.json")
      val f = new java.io.File(path)
      if (!f.isFile) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
        """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 >= FloorSec).toMap
      }
    }
    def outlier(name: String, sec: Double): Boolean =
      quietRef.get(name).exists(q => sec > math.max(2.5 * q, q + 1.0))
    val contended = sweep.collect {
      case (name, Some(sec), load) if load > LoadThreshold || outlier(name, sec) => name
    }.toSet
    val results = sweep.collect { case (name, Some(sec), load) =>
      if (contended(name)) {
        val fn = SparkEntry.queries(name)
        settle()
        val again = timeOnce(spark, sfDir, name, fn)
        spark.catalog.clearCache()
        System.err.println(f"[bench] $name retry ${again.fold("FAILED")(t => f"$t%.2fs")} (was $sec%.2fs under load $load%.1f)")
        (name, math.min(sec, again.getOrElse(Double.MaxValue)), load)
      } else (name, sec, load)
    }
    // A broken sweep must be LOUD, never fast: failed queries are listed
    // by name on the full line, counted on the compact line, and the
    // process exits nonzero — a fold/minima step downstream can never
    // mistake a failure for a 5 ms timing again.
    //
    // Full JSON first; the capture downstream keeps only the LAST ~2000
    // chars of output, and the full line (220 times + 220 loads + the
    // contended name array) exceeds that — round 6 lost its entire times
    // map this way, and rounds 8/9 lost the TOTAL because the contended
    // array was appended to the final line too. The final line is a
    // compact summary that must ALWAYS survive the tail capture, so it
    // carries only fixed-size fields: total, n, slowest-5, peak load1m,
    // the subset marker, and the contended/failed COUNTS (the full name
    // lists live on the full line above and in stderr). build.sbt sets
    // `showSuccess := false` so this compact line is also the LITERAL
    // last line of stdout — sbt's own `[success] Total time` epilogue
    // broke last-line JSON parsers for three rounds. Both line formats
    // are FROZEN driver contract (round-13's output was unparseable
    // driver-side, which cost round 14 its entire per-query PERF
    // comparison); BenchSpec round-trips them through a JSON parser so
    // a format regression fails in `sbt test`, not in the next round.
    val subset = sys.env.contains("SPARK_GRAFT_BENCH_QUERIES") || exclude32x.nonEmpty
    println(fullLine(results, sfDir, subset, contended, failed))
    val maxLoad = if (sweep.nonEmpty) sweep.map(_._3).max else 0.0
    println(compactLine(results, sfDir, subset, maxLoad, contended.size, failed.size))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
