package graft

import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.sources.SkippingIndex
import graft.text.Text

/** Contracts of the file-skipping index (zone maps + bloom sidecars):
  *
  *  1. zone-map admission is SOUND and TIGHT on range-clustered data —
  *     exactly the clusters whose id range overlaps the probe window;
  *  2. bloom admission has NO false negatives (every cluster actually
  *     containing the key is admitted) and the probed read returns
  *     exactly the base table's matches — false positives only cost an
  *     extra directory read;
  *  3. the pruned scan PHYSICALLY skips unselected directories: the
  *     executed plan carries the cluster IN (…) PartitionFilters and
  *     its numFiles metric counts only admitted clusters' files.
  */
class SkippingIndexSpec extends SparkSpec {

  private lazy val out = {
    val dir = java.nio.file.Files.createTempDirectory("graft-skip").toFile.getAbsolutePath
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents").select(col("doc_id"),
      PortableHash.asciiPolyHash(concat_ws(" ", Text.tokens(col("text")))).as("fp"))
    SkippingIndex.build(d.withColumn("cluster", expr("doc_id div 8")),
      dir, "cluster", Seq("doc_id"), "fp")
    dir
  }

  private lazy val base = spark.read.parquet(s"$out/base_v=0/data")
    .select(col("doc_id"), col("fp"), col("cluster").cast("long").as("cluster"))

  test("zone-map range admission: exactly the overlapping clusters") {
    val (lo, hi) = (25L, 44L) // clusters 3..5 under width 8
    val sel = SkippingIndex.selectRange(spark, out, "doc_id", lo, hi)
    assert(sel == Seq(3L, 4L, 5L))
    val expect = base.filter(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val got = SkippingIndex.readClusters(spark, out, sel)
      .filter(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expect) && got.nonEmpty)
  }

  test("bloom point admission: no false negatives; pruned read = exact matches") {
    // probe every distinct fingerprint of the first 40 docs — includes
    // keys duplicated across clusters (the dedup corpus)
    val keys = base.filter(col("doc_id") < 40).select("fp")
      .distinct().collect().map(_.getLong(0))
    val truth = base.select("fp", "cluster").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    keys.foreach { h =>
      val sel = SkippingIndex.selectPoint(spark, out, h).toSet
      assert(truth(h).subsetOf(sel),
        s"false negative for key $h: contains ${truth(h)}, admitted $sel")
      val got = SkippingIndex.readClusters(spark, out, sel.toSeq)
        .filter(col("fp") === h).count()
      val expect = base.filter(col("fp") === h).count()
      assert(got == expect)
    }
  }

  test("bloom admits fewer clusters than a full scan would read (it actually skips)") {
    // a key that lives in ONE cluster: the bloom must not admit all 63
    val solo = base.groupBy("fp").agg(countDistinct("cluster").as("nc"))
      .filter(col("nc") === 1).agg(min("fp")).head.getLong(0)
    val sel = SkippingIndex.selectPoint(spark, out, solo)
    val total = SkippingIndex.stats(spark, out).count()
    assert(sel.size < total / 2,
      s"bloom admitted ${sel.size} of $total clusters — no skipping happening")
  }

  test("pruned scan plans PartitionFilters and reads only admitted files") {
    val sel = Seq(3L, 4L, 5L)
    val pruned = SkippingIndex.readClusters(spark, out, sel)
    assert(pruned.collect().nonEmpty)
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a v1 parquet scan")
    assert(scans.head.partitionFilters.exists(_.toString.contains("cluster")),
      s"cluster filter not in PartitionFilters: ${scans.head.partitionFilters}")
    val allFiles = new java.io.File(s"$out/base_v=0/data").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cluster="))
    val read = scans.head.metrics("numFiles").value
    assert(read <= sel.size, s"scan read $read files for ${sel.size} clusters")
    assert(allFiles > sel.size, "fixture degenerate: all clusters selected")
  }

  test("append maintenance: folded sidecars == from-scratch build; existing sidecar versions untouched") {
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents").select(col("doc_id"),
      PortableHash.asciiPolyHash(concat_ws(" ", Text.tokens(col("text")))).as("fp"))
      .withColumn("cluster", expr("doc_id div 8"))
    def statsRows(dir: String) = SkippingIndex.stats(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def bloomFold(dir: String) = {
      // fold the version union by bit_or — the read-side merge semantic
      val u = spark.read.parquet(
        SkippingIndex.visibleVersionDirs(spark, dir).map(d => s"$d/bloom"): _*)
      u.groupBy("cluster", "word").agg(bit_or(col("mask")).as("mask"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    }
    // incremental: build on evens, append odds
    val inc = java.nio.file.Files.createTempDirectory("graft-skip-inc").toFile.getAbsolutePath
    SkippingIndex.build(d.filter(col("doc_id") % 2 === 0), inc, "cluster", Seq("doc_id"), "fp")
    val v0Files = new java.io.File(s"$inc/base_v=0/stats").listFiles().map(f => f.getName -> f.length).toMap
    SkippingIndex.append(d.filter(col("doc_id") % 2 =!= 0), inc, "cluster", Seq("doc_id"), "fp", 1L)
    // from-scratch reference over the full corpus
    val full = java.nio.file.Files.createTempDirectory("graft-skip-full").toFile.getAbsolutePath
    SkippingIndex.build(d, full, "cluster", Seq("doc_id"), "fp")
    assert(SkippingIndex.sideVersionCount(spark, inc) == 2L &&
      SkippingIndex.sideVersionCount(spark, full) == 1L)
    assert(statsRows(inc) == statsRows(full),
      "folded incremental stats must equal the from-scratch zone maps")
    assert(bloomFold(inc) == bloomFold(full),
      "bit-or-folded incremental blooms must equal the from-scratch masks")
    // the append touched nothing in the existing base version
    val v0After = new java.io.File(s"$inc/base_v=0/stats").listFiles().map(f => f.getName -> f.length).toMap
    assert(v0After == v0Files, "append must not rewrite existing sidecar versions")
    // and the folded read serves the full corpus across both versions
    val total = SkippingIndex.readClusters(spark, inc,
      SkippingIndex.stats(spark, inc).select(col("cluster").cast("long"))
        .collect().map(_.getLong(0)).toSeq).count()
    assert(total == d.count())
  }

  test("replayed append is idempotent; torn append invisible; compact folds to one version") {
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("cluster", expr("doc_id div 16"))
    val root = java.nio.file.Files.createTempDirectory("graft-skip-replay").toFile.getAbsolutePath
    SkippingIndex.build(d.filter(col("doc_id") % 2 === 0), root, "cluster", Seq("doc_id"), "doc_id")
    val odds = d.filter(col("doc_id") % 2 =!= 0)
    SkippingIndex.append(odds, root, "cluster", Seq("doc_id"), "doc_id", 1L)
    def allRows() = SkippingIndex.readClusters(spark, root,
      SkippingIndex.stats(spark, root).select(col("cluster").cast("long"))
        .collect().map(_.getLong(0)).toSeq)
    val n = d.count()
    assert(allRows().count() == n)
    // RETRIED append with the same id: before the versioned layout this
    // mode("append")-ed a second copy of every odd row into the live
    // cluster directories — permanent silent duplication
    SkippingIndex.append(odds, root, "cluster", Seq("doc_id"), "doc_id", 1L)
    assert(allRows().count() == n, "replayed append duplicated rows")
    val statsAfterReplay = SkippingIndex.stats(spark, root)
      .agg(sum("n_rows")).head.getLong(0)
    assert(statsAfterReplay == n, s"sidecar n_rows $statsAfterReplay after replay, want $n")
    // torn append: tables on disk but no commit marker → invisible
    graft.core.ArtifactIO.delete(spark, s"$root/v=2")
    odds.limit(5).write.mode("overwrite").partitionBy("cluster").parquet(s"$root/v=2/data")
    assert(allRows().count() == n, "uncommitted version leaked into the read")
    assert(SkippingIndex.sideVersionCount(spark, root) == 2L)
    // compact: one snapshot, identical reads, superseded versions gone
    val ids = allRows().select("doc_id").collect().map(_.getLong(0)).sorted
    val folded = SkippingIndex.compact(spark, root, 10L)
    assert(folded == Seq(0L, 1L), s"expected versions 0,1 superseded, got $folded")
    assert(SkippingIndex.sideVersionCount(spark, root) == 1L)
    assert(allRows().select("doc_id").collect().map(_.getLong(0)).sorted.sameElements(ids),
      "compaction changed the read")
    assert(!new java.io.File(s"$root/base_v=0").exists && !new java.io.File(s"$root/v=1").exists,
      "superseded versions not retired")
  }

  test("stats-only index (metadata over an external table): admission equal to the data-backed index; sidecar-fold compaction") {
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("cluster", expr("doc_id div 16"))
    val ext = java.nio.file.Files.createTempDirectory("graft-skip-ext").toFile.getAbsolutePath
    val full = java.nio.file.Files.createTempDirectory("graft-skip-extref").toFile.getAbsolutePath
    SkippingIndex.buildStats(d.filter(col("doc_id") % 3 === 0), ext, "cluster", Seq("doc_id"), "doc_id")
    SkippingIndex.appendStats(d.filter(col("doc_id") % 3 === 1), ext, "cluster", Seq("doc_id"), "doc_id", 1L)
    SkippingIndex.appendStats(d.filter(col("doc_id") % 3 === 2), ext, "cluster", Seq("doc_id"), "doc_id", 2L)
    SkippingIndex.build(d, full, "cluster", Seq("doc_id"), "doc_id")
    // no data copy anywhere in the stats-only index
    val dataDirs = SkippingIndex.visibleVersionDirs(spark, ext)
      .count(v => new java.io.File(s"$v/data").exists)
    assert(dataDirs == 0, "stats-only index copied data")
    val (lo, hi) = (40L, 199L)
    def admit(dir: String) = SkippingIndex.selectRange(spark, dir, "doc_id", lo, hi)
    assert(admit(ext) == admit(full), "stats-only admission must equal the data-backed index")
    val keys = d.filter(col("doc_id") < 20).select("doc_id").collect().map(_.getLong(0))
    keys.foreach { h =>
      assert(SkippingIndex.selectPoint(spark, ext, h) == SkippingIndex.selectPoint(spark, full, h),
        s"bloom admission diverged for key $h")
    }
    // compaction takes the SIDECAR-FOLD path (no data to rewrite):
    // admissions unchanged, versions folded to one
    val statsBefore = SkippingIndex.stats(spark, ext)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val folded = SkippingIndex.compact(spark, ext, 10L)
    assert(folded == Seq(0L, 1L, 2L) && SkippingIndex.sideVersionCount(spark, ext) == 1L)
    val statsAfter = SkippingIndex.stats(spark, ext)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(statsAfter == statsBefore, "sidecar fold changed the folded statistics")
    assert(admit(ext) == admit(full))
    keys.take(5).foreach { h =>
      assert(SkippingIndex.selectPoint(spark, ext, h) == SkippingIndex.selectPoint(spark, full, h))
    }
  }

  test("partition-spec evolution: per-spec pruning unions to the exact predicate, old spec untouched") {
    // History under spec 0 (coarse width 32), post-evolution batch under
    // spec 1 (fine width 8) — the q213 shape. The reader plans each spec
    // from its OWN zone maps and unions the pruned scans.
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft-skip-evo").toFile.getAbsolutePath
    SkippingIndex.buildSpec(d.filter(col("doc_id") % 4 =!= 0)
      .withColumn("cluster", expr("doc_id div 32")), root, 0L,
      "cluster", Seq("doc_id"), "doc_id")
    val spec0Files = new java.io.File(s"$root/spec=0/base_v=0/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    SkippingIndex.buildSpec(d.filter(col("doc_id") % 4 === 0)
      .withColumn("cluster", expr("doc_id div 8")), root, 1L,
      "cluster", Seq("doc_id"), "doc_id")
    assert(SkippingIndex.liveSpecs(spark, root) == Seq(0L, 1L))
    val (lo, hi) = (41L, 120L)
    // pruning is real on both layouts: fewer clusters admitted than exist
    Seq(0L, 1L).foreach { id =>
      val specRoot = s"$root/spec=$id"
      val sel = SkippingIndex.selectRange(spark, specRoot, "doc_id", lo, hi)
      assert(sel.size < SkippingIndex.stats(spark, specRoot).count(),
        s"spec $id admitted every cluster — no pruning")
    }
    // the production read path: per-spec pruned scans unioned by the API
    val got = SkippingIndex.readRangeAcrossSpecs(spark, root, "doc_id", lo, hi)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val expect = d.filter(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expect) && got.nonEmpty,
      "cross-spec pruned union must equal the plain predicate scan")
    // evolving the spec moved zero historical bytes: spec 0's layout
    // (its cluster directories) is exactly what the original build wrote
    val spec0After = new java.io.File(s"$root/spec=0/base_v=0/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(spec0After == spec0Files, "spec evolution must not rewrite old-spec data")
  }

  test("skipping index over a delete-masked table: stats are conservative upper bounds; masked pruned read stays exact") {
    // The q196 x q198 composition contract: deletes land as a mask
    // (merge-on-read), so sidecars built BEFORE the deletes are not
    // rewritten — zone maps remain VALID (they bound a superset) and
    // n_rows becomes an UPPER bound until compaction rebuilds the
    // dirty clusters. A pruned range read through the liveness mask
    // must still equal the plain masked filter.
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("cluster", expr("doc_id div 16"))
    val root = java.nio.file.Files.createTempDirectory("graft-skip-dv").toFile.getAbsolutePath
    SkippingIndex.build(d, root, "cluster", Seq("doc_id"), "doc_id")
    val deleted = col("doc_id") % 7 === 3 // the takedown set
    val (lo, hi) = (40L, 199L)
    val sel = SkippingIndex.selectRange(spark, root, "doc_id", lo, hi)
    val got = SkippingIndex.readClusters(spark, root, sel)
      .filter(!deleted && col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val expect = d.filter(!deleted && col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expect) && got.nonEmpty,
      "masked pruned read must equal the plain masked filter")
    // per-cluster: sidecar n_rows >= live count, strictly > on dirty clusters
    val live = d.filter(!deleted).groupBy("cluster").agg(count(lit(1)).as("n_live"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val statRows = SkippingIndex.stats(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    statRows.foreach { case (c, n) =>
      assert(n >= live.getOrElse(c, 0L),
        s"cluster $c: sidecar n_rows $n below live count ${live(c)}")
    }
    assert(statRows.exists { case (c, n) => n > live.getOrElse(c, 0L) },
      "fixture degenerate: no cluster is dirty — the upper-bound claim is vacuous")
  }

  test("compact with gc=false: a reader's pre-fold listing stays openable; vacuum retires it one window later") {
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("cluster", expr("doc_id div 16"))
    val root = java.nio.file.Files.createTempDirectory("graft-skip-ret").toFile.getAbsolutePath
    SkippingIndex.build(d.filter(col("doc_id") % 2 === 0), root, "cluster", Seq("doc_id"), "doc_id")
    SkippingIndex.append(d.filter(col("doc_id") % 2 =!= 0), root, "cluster", Seq("doc_id"), "doc_id", 1L)
    // a racing reader captured its version listing BEFORE the fold
    val preFold = SkippingIndex.visibleVersionDirs(spark, root)
    val n = d.count()
    val folded = SkippingIndex.compact(spark, root, 10L, gc = false)
    assert(folded == Seq(0L, 1L))
    // post-fold readers see only the new base...
    assert(SkippingIndex.sideVersionCount(spark, root) == 1L)
    // ...while the pre-fold reader can still open every directory it
    // listed (the FileNotFound race eager GC had)
    preFold.foreach { dir =>
      assert(spark.read.parquet(s"$dir/data").count() > 0, s"pre-fold listing lost $dir")
    }
    // one retention window later the janitor's vacuum retires them
    assert(SkippingIndex.vacuum(spark, root) == Seq(0L, 1L))
    preFold.foreach(dir => assert(!new java.io.File(dir).exists, s"vacuum left $dir"))
    val sel = SkippingIndex.stats(spark, root).select(col("cluster").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    assert(SkippingIndex.readClusters(spark, root, sel).count() == n)
    // idempotent: nothing left to retire
    assert(SkippingIndex.vacuum(spark, root).isEmpty)
  }

  test("a retried compact at an already-published base id is refused; the published base still reads") {
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("cluster", expr("doc_id div 16"))
    val root = java.nio.file.Files.createTempDirectory("graft-skip-recompact").toFile.getAbsolutePath
    SkippingIndex.build(d.filter(col("doc_id") % 2 === 0), root, "cluster", Seq("doc_id"), "doc_id")
    SkippingIndex.append(d.filter(col("doc_id") % 2 =!= 0), root, "cluster", Seq("doc_id"), "doc_id", 1L)
    val n = d.count()
    assert(SkippingIndex.compact(spark, root, 10L, gc = false) == Seq(0L, 1L))
    // a retried OPTIMIZE job at the same id would read base_v=10 while
    // overwriting it — the id check must refuse before anything is touched
    val e = intercept[IllegalArgumentException](SkippingIndex.compact(spark, root, 10L))
    assert(e.getMessage.contains("compaction id 10 must exceed every committed version"))
    assert(SkippingIndex.visibleVersionDirs(spark, root) == Seq(s"$root/base_v=10"))
    assert(new java.io.File(s"$root/base_v=0").exists, "the refused compact retired history")
    val sel = SkippingIndex.stats(spark, root).select(col("cluster").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    assert(SkippingIndex.readClusters(spark, root, sel).count() == n)
  }
}
