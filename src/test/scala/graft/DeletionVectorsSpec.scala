package graft

import org.apache.spark.sql.functions._

import graft.operators.DeletionVectors

/** Contracts of the deletion-vector table (merge-on-read position
  * deletes): filter-equivalent reads, disjoint sidecars, O(deleted)
  * delete IO, dirty-shard-only compaction with stable positions, torn
  * sidecars invisible, and a broadcast (never shuffled) masking join.
  */
class DeletionVectorsSpec extends SparkSpec {

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dv").toFile.getAbsolutePath
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"), pmod(col("doc_id"), lit(8)).as("shard"))
    DeletionVectors.writeBase(d, dir, Seq("doc_id"))
    dir
  }

  private def liveIds(dir: String): Set[Long] =
    DeletionVectors.read(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet

  private def baseIds(pred: org.apache.spark.sql.Column): Set[Long] =
    graft.core.Tables(spark, sf("sf0.001"), "documents").filter(pred)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("read-after-delete == filter; later vectors exclude already-deleted rows") {
    val dir = freshTable()
    val n1 = DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 200, 1L)
    assert(n1 == baseIds(col("n_chars") < 200).size && n1 > 0)
    assert(liveIds(dir) == baseIds(col("n_chars") >= 200))
    // overlapping predicate: only the NEW rows land in dv 2
    val n2 = DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 250, 2L)
    assert(n2 == baseIds(col("n_chars") >= 200 && col("n_chars") < 250).size)
    assert(liveIds(dir) == baseIds(col("n_chars") >= 250))
    // the takedown-list shape: delete three specific ids
    import spark.implicits._
    val wasLive = liveIds(dir)
    val keys = Seq(400L, 401L, 402L).toDF("doc_id")
    val n3 = DeletionVectors.deleteMatching(spark, dir, keys, Seq("doc_id"), 3L)
    assert(n3 == wasLive.intersect(Set(400L, 401L, 402L)).size)
    assert(liveIds(dir) == wasLive -- Set(400L, 401L, 402L))
  }

  test("delete IO is O(deleted): the sidecar is a small fraction of the base") {
    val dir = freshTable()
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 100, 1L)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    val dv = bytes(s"$dir/${DeletionVectors.DvPrefix}1")
    val base = bytes(s"$dir/${DeletionVectors.BasePrefix}0")
    assert(dv > 0 && dv < base / 4,
      s"dv sidecar $dv bytes vs base $base — delete IO should be delete-scale")
  }

  test("compaction rewrites ONLY dirty shards, preserves positions, keeps reads equal") {
    val dir = freshTable()
    DeletionVectors.deleteWhere(spark, dir, col("shard") === 2 && col("n_chars") < 300, 1L)
    val before = liveIds(dir)
    val posBefore = DeletionVectors.read(spark, dir)
      .filter(col("shard") === 2).select("doc_id", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rewritten = DeletionVectors.compactApply(spark, dir, 10L)
    assert(rewritten == Seq(2L), s"expected only shard 2 rewritten, got $rewritten")
    val newShards = new java.io.File(s"$dir/${DeletionVectors.BasePrefix}10/data")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(newShards == Set("shard=2"), s"new base holds $newShards")
    assert(liveIds(dir) == before, "read must be identical across compaction")
    val posAfter = DeletionVectors.read(spark, dir)
      .filter(col("shard") === 2).select("doc_id", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(posAfter == posBefore, "compaction must not reassign surviving positions")
    // position references stay valid: a post-compaction delete works
    val someId = posAfter.keys.min
    DeletionVectors.deleteWhere(spark, dir, col("doc_id") === someId, 11L)
    assert(liveIds(dir) == before - someId)
  }

  test("a torn (uncommitted) deletion vector is invisible to readers") {
    val dir = freshTable()
    val before = liveIds(dir)
    // simulate a crash after the dv parquet lands but before the marker
    DeletionVectors.read(spark, dir).filter(col("n_chars") < 200)
      .select("shard", "pos")
      .write.mode("overwrite").parquet(s"$dir/${DeletionVectors.DvPrefix}7/dv")
    assert(liveIds(dir) == before, "uncommitted dv must not mask rows")
  }

  test("the masking join broadcasts — the base never shuffles for deletes") {
    val dir = freshTable()
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 150, 1L)
    val df = DeletionVectors.read(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join, plan:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin"),
      "DV masking must not sort-merge the base")
  }

  test("merge-on-read upsert: updates mask, inserts append, replay is idempotent, the fold preserves the view") {
    import spark.implicits._
    val dir = freshTable()
    val base = DeletionVectors.read(spark, dir)
      .select("doc_id", "n_chars").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxId = base.keys.max
    def liveMap(): Map[Long, Long] = DeletionVectors.read(spark, dir)
      .select("doc_id", "n_chars").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 1: update every doc_id % 5 == 2 (+1000), insert shifted copies
    // of every doc_id % 7 == 3 (+7)
    val d0 = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
    val upd = d0.filter(col("doc_id") % 5 === 2)
      .select(col("doc_id"), (col("n_chars") + 1000).as("n_chars"))
    val ins = d0.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + maxId + 1).as("doc_id"), (col("n_chars") + 7).as("n_chars"))
    val batch1 = upd.unionByName(ins)
      .withColumn("shard", pmod(col("doc_id"), lit(8)))
    val (nDel1, nApp1) = DeletionVectors.upsert(spark, dir, batch1, Seq("doc_id"), Seq("doc_id"), 1L)
    val want1 = base ++ base.collect { case (k, v) if k % 5 == 2 => k -> (v + 1000) } ++
      base.collect { case (k, v) if k % 7 == 3 => (k + maxId + 1) -> (v + 7) }
    assert(nDel1 == base.keys.count(_ % 5 == 2) && nApp1 > nDel1)
    assert(liveMap() == want1)
    val rowsBefore = DeletionVectors.read(spark, dir).count()
    // REPLAY of the same upsert: same counts, same ROW COUNT (a Map
    // comparison alone collapses duplicate keys — the r10 blind spot
    // that let the unmasking bug ship green), no duplicated key
    val (nDelR, nAppR) = DeletionVectors.upsert(spark, dir, batch1, Seq("doc_id"), Seq("doc_id"), 1L)
    assert((nDelR, nAppR) == ((nDel1, nApp1)),
      s"replay returned ($nDelR, $nAppR), original ($nDel1, $nApp1)")
    assert(DeletionVectors.read(spark, dir).count() == rowsBefore,
      "replayed upsert changed the live row count")
    val dups = DeletionVectors.read(spark, dir).groupBy("doc_id").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, s"replayed upsert left $dups duplicated doc_ids")
    assert(liveMap() == want1, "replayed upsert changed the state")
    // batch 2 updates APPENDED rows (deletion vectors against append positions)
    val batch2 = ins.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), (col("n_chars") + 9).as("n_chars"))
      .withColumn("shard", pmod(col("doc_id"), lit(8)))
    val (nDel2, _) = DeletionVectors.upsert(spark, dir, batch2, Seq("doc_id"), Seq("doc_id"), 2L)
    val want2 = want1 ++ want1.collect { case (k, v) if k > maxId && k % 2 == 0 => k -> (v + 9) }
    assert(nDel2 > 0 && liveMap() == want2)
    // fold WITHOUT GC: the version guard must keep the read identical
    // even while the superseded sidecars are still on disk
    DeletionVectors.compactApply(spark, dir, 10L, gc = false)
    assert(new java.io.File(s"$dir/${DeletionVectors.AppendPrefix}1").exists,
      "gc = false must leave the append sidecar for the vacuum job")
    assert(liveMap() == want2, "fold + version guard changed the view (double count or loss)")
    // vacuum: drop the superseded sidecars; view unchanged
    Seq(s"${DeletionVectors.DvPrefix}1", s"${DeletionVectors.DvPrefix}2",
      s"${DeletionVectors.AppendPrefix}1", s"${DeletionVectors.AppendPrefix}2")
      .foreach(p => graft.core.ArtifactIO.delete(spark, s"$dir/$p"))
    assert(liveMap() == want2, "vacuum changed the view")
    // position namespaces never collide: all positions distinct
    val pos = DeletionVectors.read(spark, dir).select("shard", "pos")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(pos.distinct.length == pos.length, "duplicate (shard, pos)")
  }

  test("retried deletes are idempotent: same count, same state, no unmasking") {
    import spark.implicits._
    val dir = freshTable()
    val n1 = DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 200, 1L)
    val after1 = liveIds(dir)
    // retry with the SAME dvId: before the readBefore fix this recomputed
    // against the already-masked view, wrote an EMPTY vector over the
    // original sidecar, and resurrected every deleted row
    val n1r = DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 200, 1L)
    assert(n1r == n1, s"retried delete wrote $n1r positions, original $n1")
    assert(liveIds(dir) == after1, "retried delete changed the state")
    val keys = Seq(400L, 401L, 402L).toDF("doc_id")
    val n2 = DeletionVectors.deleteMatching(spark, dir, keys, Seq("doc_id"), 2L)
    val after2 = liveIds(dir)
    val n2r = DeletionVectors.deleteMatching(spark, dir, keys, Seq("doc_id"), 2L)
    assert(n2r == n2 && liveIds(dir) == after2, "retried deleteMatching not idempotent")
  }

  test("appendRows introducing a NEW shard: rows visible, manifest extended, fold keeps them") {
    import spark.implicits._
    val dir = freshTable()
    val before = liveIds(dir)
    // shard 99 exists in no base file — pre-fix these rows were invisible
    // to read() and silently GC'd by the next compaction
    val novel = Seq((900001L, 123L, 99L), (900002L, 456L, 99L))
      .toDF("doc_id", "n_chars", "shard")
    val n = DeletionVectors.appendRows(spark, dir, novel, Seq("doc_id"), 1L)
    assert(n == 2)
    assert(liveIds(dir) == before ++ Set(900001L, 900002L),
      "new-shard appended rows must be visible")
    DeletionVectors.compactApply(spark, dir, 10L)
    assert(liveIds(dir) == before ++ Set(900001L, 900002L),
      "compaction lost the new-shard appended rows")
    // and they are deletable afterwards like any other row
    DeletionVectors.deleteWhere(spark, dir, col("doc_id") === 900001L, 11L)
    assert(liveIds(dir) == before + 900002L)
  }

  test("non-monotonic version ids and below-floor replays are rejected loudly") {
    import spark.implicits._
    val dir = freshTable()
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 150, 1L)
    DeletionVectors.compactApply(spark, dir, 5L)
    val batch = Seq((900001L, 1L, 0L)).toDF("doc_id", "n_chars", "shard")
    // appendId at/below the folded base version breaks the version guard
    intercept[IllegalArgumentException] {
      DeletionVectors.appendRows(spark, dir, batch, Seq("doc_id"), 5L)
    }
    // a replayed mutation below the compaction floor cannot be recomputed
    intercept[IllegalArgumentException] {
      DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 150, 1L)
    }
    // a compaction id that does not exceed every committed id is rejected
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 200, 6L)
    intercept[IllegalArgumentException] {
      DeletionVectors.compactApply(spark, dir, 6L)
    }
  }

  test("EMPTY-base table lifecycle: appends visible, deletable, compactable (no minBy crash)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dv-empty").toFile.getAbsolutePath
    val schema = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"), pmod(col("doc_id"), lit(8)).as("shard"))
      .limit(0)
    DeletionVectors.writeBase(schema, dir, Seq("doc_id"))
    assert(DeletionVectors.read(spark, dir).count() == 0)
    // pre-fix this crashed with UnsupportedOperationException (minBy on
    // an empty manifest); now the derived entries anchor on base_v=0
    val batch = Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("doc_id", "n_chars", "shard")
    assert(DeletionVectors.appendRows(spark, dir, batch, Seq("doc_id"), 1L) == 2)
    assert(liveIds(dir) == Set(1L, 2L))
    DeletionVectors.deleteWhere(spark, dir, col("doc_id") === 1L, 2L)
    assert(liveIds(dir) == Set(2L))
    DeletionVectors.compactApply(spark, dir, 10L)
    assert(liveIds(dir) == Set(2L), "compaction of the empty-base table changed the view")
  }

  test("chain-length guard: a janitor-less sidecar chain refuses loudly, and folds back to readable") {
    val dir = freshTable()
    (1L to 4L).foreach(v => DeletionVectors.deleteWhere(spark, dir, col("doc_id") === v, v))
    val view = liveIds(dir)
    System.setProperty("graft.dv.maxUnfoldedVersions", "3")
    try {
      val e = intercept[IllegalArgumentException] { DeletionVectors.read(spark, dir).count() }
      assert(e.getMessage.contains("janitor"), s"guard must name the fix: ${e.getMessage}")
      // folding the chain brings the table back under the guard
      graft.core.CommitLog.janitor(spark, dir)
      graft.core.CommitLog.janitor(spark, dir) // second pass vacuums the retained sidecars
      assert(liveIds(dir) == view)
    } finally System.clearProperty("graft.dv.maxUnfoldedVersions")
  }

  test("vacuumSidecars retires only what a fold superseded; pre-fold sidecars stay one window") {
    val dir = freshTable()
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 150, 1L)
    // nothing folded yet: vacuum must not touch the live sidecar
    assert(DeletionVectors.vacuumSidecars(spark, dir).isEmpty)
    val view = liveIds(dir)
    DeletionVectors.compactApply(spark, dir, 5L, gc = false)
    // folded but within the retention window: still on disk, view unchanged
    assert(graft.core.CommitLog.committedVersions(spark, dir, DeletionVectors.DvPrefix) == Seq(1L))
    assert(liveIds(dir) == view)
    // a post-fold sidecar is NOT retired by the vacuum
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 160, 6L)
    val view2 = liveIds(dir)
    assert(DeletionVectors.vacuumSidecars(spark, dir) == Seq(1L))
    assert(graft.core.CommitLog.committedVersions(spark, dir, DeletionVectors.DvPrefix) == Seq(6L))
    assert(liveIds(dir) == view2, "vacuum changed the view")
  }

  test("zero-copy clone: no data copied, sidecar state carried, branches isolated both ways") {
    val dir = freshTable()
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 150, 1L)
    val shared = liveIds(dir)
    val cl = java.nio.file.Files.createTempDirectory("graft-dv-clone").toFile.getAbsolutePath + "/t"
    DeletionVectors.clone(spark, dir, cl)
    // the clone sees the source state INCLUDING the pre-clone delete...
    assert(liveIds(cl) == shared, "clone must carry the sidecar state")
    // ...without having copied a single data file
    val dataDirs = new java.io.File(cl).listFiles()
      .count(_.getName.startsWith(DeletionVectors.BasePrefix))
    assert(dataDirs == 0, "clone copied base data")
    // divergence: source-only delete invisible to the clone, and vice versa
    DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 250, 2L)
    assert(liveIds(cl) == shared, "source delete leaked into the clone")
    DeletionVectors.deleteWhere(spark, cl, col("shard") === 3, 2L)
    val cloneWant = shared.filter(_ % 8 != 3).toSet
    assert(liveIds(cl) == cloneWant)
    assert(liveIds(dir) == baseIds(col("n_chars") >= 250), "clone delete leaked into the source")
    // clone compaction folds LOCALLY: reads equal, local base appears,
    // source directory untouched
    DeletionVectors.compactApply(spark, cl, 10L)
    assert(liveIds(cl) == cloneWant, "clone fold changed the view")
    assert(new java.io.File(s"$cl/${DeletionVectors.BasePrefix}10").exists)
    assert(liveIds(dir) == baseIds(col("n_chars") >= 250))
  }
}
