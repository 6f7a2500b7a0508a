package graft

import org.apache.spark.sql.functions._

import graft.core.{ArtifactIO, CommitLog}
import graft.operators.DeletionVectors
import graft.sources.SkippingIndex
import graft.streaming.DeltaState

/** Contracts of the shared commit log: exclusive version claims
  * (optimistic concurrency — one winner, a loud conflict for the
  * loser), allocation that serializes racing writers, and the ONE
  * janitor entry point that compacts every versioned substrate by its
  * descriptor file.
  */
class CommitLogSpec extends SparkSpec {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath

  test("claim is exclusive: second writer gets CommitConflict; allocate probes past it") {
    val dir = tmp("graft-cl")
    CommitLog.claim(spark, dir, "v=", 5L)
    intercept[CommitLog.CommitConflict] { CommitLog.claim(spark, dir, "v=", 5L) }
    // the loser re-allocates and lands above the winner's claim
    assert(CommitLog.allocate(spark, dir, "v=") == 6L)
    // a committed version also conflicts (double-commit guard at claim time)
    ArtifactIO.mkdirs(spark, s"$dir/v=9")
    CommitLog.publish(spark, s"$dir/v=9")
    intercept[CommitLog.CommitConflict] { CommitLog.claim(spark, dir, "v=", 9L) }
  }

  test("publishExclusive refuses a double commit of the same version") {
    val dir = tmp("graft-cl-pub")
    ArtifactIO.mkdirs(spark, s"$dir/v=1")
    CommitLog.publishExclusive(spark, s"$dir/v=1")
    assert(CommitLog.isCommitted(spark, s"$dir/v=1"))
    intercept[CommitLog.CommitConflict] { CommitLog.publishExclusive(spark, s"$dir/v=1") }
  }

  test("a genuine race on one id has exactly one winner (atomic create)") {
    val dir = tmp("graft-cl-race")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        try { CommitLog.claim(spark, dir, "v=", 3L); results.add(true) }
        catch { case _: CommitLog.CommitConflict => results.add(false) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.count(identity) == 1,
      s"expected exactly one winning claim, got ${results.asScala.count(identity)}")
  }

  test("stale claims below the newest committed version are releasable debris") {
    val dir = tmp("graft-cl-stale")
    CommitLog.claim(spark, dir, "v=", 1L) // crashed writer: claimed, never committed
    ArtifactIO.mkdirs(spark, s"$dir/v=4")
    CommitLog.publish(spark, s"$dir/v=4")
    CommitLog.claim(spark, dir, "v=", 7L) // in-flight writer above the floor: kept
    assert(CommitLog.releaseStaleClaims(spark, dir, "v=") == Seq(1L))
    assert(CommitLog.claimed(spark, dir, "v=") == Seq(7L))
  }

  private def freshDvTable(): String = {
    val dir = tmp("graft-cl-dv")
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"), pmod(col("doc_id"), lit(8)).as("shard"))
    DeletionVectors.writeBase(d, dir, Seq("doc_id"))
    dir
  }

  private def liveIds(dir: String): Set[Long] =
    DeletionVectors.read(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet

  test("two interleaved deletion-vector writers serialize through allocation; state composes as if sequential") {
    import spark.implicits._
    val dir = freshDvTable()
    val before = liveIds(dir)
    // writer A (takedown list) and writer B (quality purge) both allocate:
    // ids come out distinct and ordered, both mutations apply
    val (idA, nA) = DeletionVectors.deleteMatchingConcurrent(spark, dir,
      Seq(400L, 401L, 402L).toDF("doc_id"), Seq("doc_id"))
    val (idB, nB) = DeletionVectors.deleteWhereConcurrent(spark, dir, col("n_chars") < 150)
    assert(idA < idB, s"allocation must serialize: got $idA then $idB")
    assert(nA == before.intersect(Set(400L, 401L, 402L)).size && nB > 0)
    val want = before -- Set(400L, 401L, 402L)
    val expectB = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .filter(col("n_chars") < 150).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(liveIds(dir) == want -- expectB, "concurrent writers lost an update")
    // and a third writer upserting allocates above both
    val batch = Seq((400L, 9999L, 0L)).toDF("doc_id", "n_chars", "shard")
    val (idC, _, nApp) = DeletionVectors.upsertConcurrent(spark, dir, batch,
      Seq("doc_id"), Seq("doc_id"))
    assert(idC > idB && nApp == 1)
    assert(liveIds(dir).contains(400L), "upserted row missing")
  }

  test("two writers on the SAME precomputed id: one wins, one conflicts, state equals the winner") {
    val dir = freshDvTable()
    val before = liveIds(dir)
    // both writers decided "my version is 1" without allocating
    CommitLog.claim(spark, dir, DeletionVectors.DvPrefix, 1L) // writer A reserves
    val nA = DeletionVectors.deleteWhere(spark, dir, col("n_chars") < 150, 1L)
    // writer B arrives with the same id: the claim conflicts BEFORE it
    // writes a byte into A's version directory
    intercept[CommitLog.CommitConflict] {
      CommitLog.claim(spark, dir, DeletionVectors.DvPrefix, 1L)
    }
    val afterA = liveIds(dir)
    assert(before.size - afterA.size == nA)
    // B retries through allocation and applies cleanly on top
    val (idB, _) = DeletionVectors.deleteWhereConcurrent(spark, dir, col("n_chars") < 200)
    assert(idB > 1L && liveIds(dir).subsetOf(afterA))
  }

  test("atomicCreate's non-local branch (HDFS-style create(overwrite=false)) via a scheme double") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", "graft.MockSchemeFs")
    conf.set("fs.mock.impl.disable.cache", "true")
    try {
      val dir = s"mock://${tmp("graft-cl-mock")}"
      // the claim goes through FileSystem.create(p, overwrite=false),
      // not the NIO O_EXCL local fast path — the branch the HDFS/S3
      // deployment notes describe, executed instead of documented
      CommitLog.claim(spark, dir, "v=", 1L)
      intercept[CommitLog.CommitConflict] { CommitLog.claim(spark, dir, "v=", 1L) }
      // full exclusive publication lifecycle on the same scheme
      ArtifactIO.mkdirs(spark, s"$dir/v=1")
      CommitLog.publishExclusive(spark, s"$dir/v=1")
      assert(CommitLog.isCommitted(spark, s"$dir/v=1"))
      intercept[CommitLog.CommitConflict] { CommitLog.publishExclusive(spark, s"$dir/v=1") }
      assert(CommitLog.claimed(spark, dir, "v=").isEmpty, "publish must release the claim")
    } finally {
      conf.unset("fs.mock.impl")
      conf.unset("fs.mock.impl.disable.cache")
    }
  }

  test("janitor dispatches by descriptor: deletion-vector table folds under an allocated base id") {
    val dir = freshDvTable()
    DeletionVectors.deleteWhereConcurrent(spark, dir, col("n_chars") < 200)
    val view = liveIds(dir)
    val report = CommitLog.janitor(spark, dir)
    assert(report.substrate == "deletion-vectors" && report.removed.nonEmpty)
    assert(liveIds(dir) == view, "janitor fold changed the view")
    // retention window: the folded sidecar is INVISIBLE (version
    // arithmetic) but still on disk, so a reader that listed the chain
    // just before the fold can still open every file it saw
    assert(CommitLog.committedVersions(spark, dir, DeletionVectors.DvPrefix).nonEmpty,
      "folded DV sidecars must survive one retention window")
    // the NEXT pass vacuums them (and has nothing new to fold)
    assert(CommitLog.janitor(spark, dir).removed.isEmpty)
    assert(CommitLog.committedVersions(spark, dir, DeletionVectors.DvPrefix).isEmpty,
      "second pass should vacuum the folded sidecars")
    assert(liveIds(dir) == view, "vacuum changed the view")
  }

  test("claim TOCTOU guard: a claim landing after the id committed is released and conflicts") {
    val dir = tmp("graft-cl-toctou")
    // the raced state: publishExclusive created the marker and deleted
    // the winner's claim; the loser's stale isCommitted check already
    // passed, and its atomic create then re-creates the claim file
    ArtifactIO.mkdirs(spark, s"$dir/v=2")
    CommitLog.publishExclusive(spark, s"$dir/v=2")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/v=2${CommitLog.ClaimSuffix}"))
    intercept[CommitLog.CommitConflict] {
      CommitLog.validateClaim(spark, dir, "v=", 2L)
    }
    assert(CommitLog.claimed(spark, dir, "v=").isEmpty,
      "the raced claim must be released, or the committed id stays claimed forever")
    // and the full claim() path still conflicts up front on a committed id
    intercept[CommitLog.CommitConflict] { CommitLog.claim(spark, dir, "v=", 2L) }
  }

  test("GENUINE same-key upsert race: snapshot validation leaves exactly one live copy") {
    import spark.implicits._
    val dir = freshDvTable()
    val nBefore = DeletionVectors.read(spark, dir).count()
    val keyInBase = liveIds(dir).contains(500L)
    // two writers upsert the SAME key concurrently — pre-validation this
    // was the lost-update corruption: each masked the base row, each
    // appended a copy, leaving a duplicate key
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(7777L, 8888L).map { marker =>
      new Thread(() => {
        try {
          DeletionVectors.upsertConcurrent(spark, dir,
            Seq((500L, marker, 500L % 8)).toDF("doc_id", "n_chars", "shard"),
            Seq("doc_id"), Seq("doc_id"))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent upserts should serialize, got $errs")
    val copies = DeletionVectors.read(spark, dir)
      .filter(col("doc_id") === 500L).select("n_chars")
      .collect().map(_.getLong(0)).toSeq
    assert(copies.size == 1,
      s"duplicate key after racing upserts: n_chars copies $copies")
    assert(Set(7777L, 8888L).contains(copies.head), "surviving copy must be one of the writers'")
    val nWant = if (keyInBase) nBefore else nBefore + 1
    assert(DeletionVectors.read(spark, dir).count() == nWant, "row count drifted")
  }

  test("a crashed lower claim blocks later snapshots LOUDLY, and resolves once released") {
    import spark.implicits._
    val dir = freshDvTable()
    // writer A claimed an id and died — its claim never resolves
    CommitLog.claim(spark, dir, DeletionVectors.DvPrefix, 1L)
    System.setProperty("graft.dv.claimWaitMs", "300")
    try {
      val e = intercept[CommitLog.CommitConflict] {
        DeletionVectors.deleteWhereConcurrent(spark, dir, col("n_chars") < 150)
      }
      assert(e.getMessage.contains("dv_v=1"), s"conflict must name the stale claim: ${e.getMessage}")
      // operator releases the debris; the writer then commits cleanly
      ArtifactIO.delete(spark, s"$dir/${DeletionVectors.DvPrefix}1${CommitLog.ClaimSuffix}")
      val (id, n) = DeletionVectors.deleteWhereConcurrent(spark, dir, col("n_chars") < 150)
      // the released id was never committed, so re-allocating it is legal
      assert(id >= 1L && n > 0)
    } finally System.clearProperty("graft.dv.claimWaitMs")
  }

  test("upsertConcurrent crash windows: EVERY kill point is invisible, loud, or healed by retry") {
    // Round-13 verdict item 6: the *Concurrent commit sequence is
    //   claim → snapshot → write dv dir → write append dir →
    //   publish(dv) → publish(append) → release claim
    // and each adjacent pair is a crash window. The curateStream
    // injection pattern, generalized: construct the exact on-disk state
    // a kill at window k leaves (every step's effect is a complete
    // file-level artifact, so the state is reproducible with the same
    // primitives), then prove the three-part invariant at every k —
    //   (1) readers never see a torn or duplicated row: pre-state for
    //       k ≤ 2, the documented DV-before-append under-read (masked
    //       rows gone, replacements pending, no duplicates) at k = 3,
    //       the full upsert at k = 4;
    //   (2) the failure is LOUD where it must block (an unresolved
    //       lower claim names itself to the next writer) and silent
    //       where it must not (a committed id's lingering claim never
    //       blocks anyone);
    //   (3) the client's natural recovery — retry the upsert, releasing
    //       the named stale claim if conflicted — converges to the
    //       intended final state with no duplicate keys.
    import spark.implicits._
    val id = 1L
    def nchars(dir: String): Map[Long, Long] =
      DeletionVectors.read(spark, dir).select("doc_id", "n_chars")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    System.setProperty("graft.dv.claimWaitMs", "300")
    try {
      for (k <- 0 to 4) {
        val dir = freshDvTable()
        val pre = nchars(dir)
        // updates: every doc_id % 9 == 4 gets n_chars = -7; insert: one new key
        val newKey = pre.keys.max + 1
        val batch = graft.core.Tables(spark, sf("sf0.001"), "documents")
          .filter(col("doc_id") % 9 === 4)
          .select(col("doc_id"), lit(-7L).as("n_chars"))
          .unionByName(Seq((newKey, -9L)).toDF("doc_id", "n_chars"))
          .withColumn("shard", pmod(col("doc_id"), lit(8)))
        val updatedKeys = pre.keys.filter(_ % 9 == 4).toSet
        val intended = pre ++ updatedKeys.map(_ -> -7L) + (newKey -> -9L)

        // ── construct the post-kill state for window k ──
        CommitLog.claim(spark, dir, DeletionVectors.DvPrefix, id) // k = 0
        if (k >= 1) {
          DeletionVectors.upsert(spark, dir, batch, Seq("doc_id"), Seq("doc_id"), id,
            commit = false) // k = 2 (dv + append dirs, both uncommitted)
          if (k == 1) // kill BETWEEN the two writes: only the dv dir exists
            ArtifactIO.delete(spark, s"$dir/${DeletionVectors.AppendPrefix}$id")
        }
        if (k >= 3) CommitLog.publish(spark, s"$dir/${DeletionVectors.DvPrefix}$id")
        if (k >= 4) CommitLog.publish(spark, s"$dir/${DeletionVectors.AppendPrefix}$id")
        // crash: the claim is never released

        // ── (1) reader invariant ──
        val seen = nchars(dir)
        k match {
          case 0 | 1 | 2 =>
            assert(seen == pre, s"window $k: uncommitted work leaked into a read")
          case 3 =>
            assert(seen == pre -- updatedKeys,
              s"window $k: expected the documented under-read (masked rows gone, appends pending)")
          case _ =>
            assert(seen == intended, s"window $k: both markers committed must serve the full upsert")
        }
        assert(seen.size == DeletionVectors.read(spark, dir).count(),
          s"window $k: duplicate doc_id visible")

        // ── (2) + (3) recovery: the client retries the same upsert ──
        if (k <= 2) {
          // unresolved uncommitted claim: the retry must refuse LOUDLY,
          // naming the debris — never proceed against a maybe-live writer
          val e = intercept[CommitLog.CommitConflict] {
            DeletionVectors.upsertConcurrent(spark, dir, batch, Seq("doc_id"), Seq("doc_id"))
          }
          assert(e.getMessage.contains(s"${DeletionVectors.DvPrefix}$id"),
            s"window $k: conflict must name the stale claim: ${e.getMessage}")
          ArtifactIO.delete(spark,
            s"$dir/${DeletionVectors.DvPrefix}$id${CommitLog.ClaimSuffix}")
        }
        // k = 3: the committed-dv claim is RESOLVED debris — the retry must
        // proceed with no operator intervention (readBefore folds the torn
        // DV, the batch re-appends every masked key, healing the under-read).
        // k = 4: pure re-apply on complete state (idempotent by content).
        val (rid, _, _) =
          DeletionVectors.upsertConcurrent(spark, dir, batch, Seq("doc_id"), Seq("doc_id"))
        // k ≤ 2: the crashed id never committed and its claim was
        // released, so RE-allocating it is legal (the retry overwrites
        // the junk dirs — replay semantics); once a marker committed
        // (k ≥ 3) the floor forces a strictly higher id.
        if (k >= 3) assert(rid > id, s"window $k: retry must allocate above the committed id")
        else assert(rid >= id, s"window $k: retry allocated below the crashed id")
        val healed = nchars(dir)
        assert(healed == intended, s"window $k: retry did not converge to the intended state")
        assert(healed.size == DeletionVectors.read(spark, dir).count(),
          s"window $k: retry left a duplicate doc_id")
      }
    } finally System.clearProperty("graft.dv.claimWaitMs")
  }

  test("janitor during an unpublished concurrent upsert leaves its dv/append dirs; the retried upsert converges") {
    import spark.implicits._
    def nchars(dir: String): Map[Long, Long] =
      DeletionVectors.read(spark, dir).select("doc_id", "n_chars")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = freshDvTable()
    // committed history, so the janitor folds and publishes a base ABOVE
    // the in-flight writer's id
    val (committedId, _) = DeletionVectors.deleteWhereConcurrent(spark, dir, col("n_chars") < 150)
    val pre = nchars(dir)
    val batch = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .filter(col("doc_id") % 9 === 4)
      .select(col("doc_id"), lit(-7L).as("n_chars"))
      .unionByName(Seq((pre.keys.max + 1, -9L)).toDF("doc_id", "n_chars"))
      .withColumn("shard", pmod(col("doc_id"), lit(8)))
    val intended = pre ++ batch.select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // the k = 2 crash window: claimed, both dirs written, neither published
    val id = committedId + 1
    CommitLog.claim(spark, dir, DeletionVectors.DvPrefix, id)
    DeletionVectors.upsert(spark, dir, batch, Seq("doc_id"), Seq("doc_id"), id, commit = false)
    val inFlight = Seq(DeletionVectors.DvPrefix, DeletionVectors.AppendPrefix).map(p => s"$dir/$p$id")
    val report = CommitLog.janitor(spark, dir)
    assert(report.substrate == "deletion-vectors" && report.removed.nonEmpty,
      "fixture degenerate: the janitor folded nothing")
    inFlight.foreach(d => assert(ArtifactIO.exists(spark, d), s"janitor deleted the in-flight $d"))
    assert(nchars(dir) == pre, "uncommitted upsert leaked into a read")
    System.setProperty("graft.dv.claimWaitMs", "300")
    try {
      // the writer died holding its claim: the retry names it, the
      // operator releases it, the retry then applies
      val e = intercept[CommitLog.CommitConflict] {
        DeletionVectors.upsertConcurrent(spark, dir, batch, Seq("doc_id"), Seq("doc_id"))
      }
      assert(e.getMessage.contains(s"${DeletionVectors.DvPrefix}$id"), e.getMessage)
      ArtifactIO.delete(spark, s"$dir/${DeletionVectors.DvPrefix}$id${CommitLog.ClaimSuffix}")
      DeletionVectors.upsertConcurrent(spark, dir, batch, Seq("doc_id"), Seq("doc_id"))
    } finally System.clearProperty("graft.dv.claimWaitMs")
    val healed = nchars(dir)
    assert(healed == intended, "retried upsert did not converge to the intended state")
    assert(healed.size == DeletionVectors.read(spark, dir).count(), "retry left a duplicate doc_id")
  }

  test("janitor dispatches by descriptor: skipping index folds when versions exceed keep") {
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("cluster", expr("doc_id div 16"))
    val dir = tmp("graft-cl-skip")
    SkippingIndex.build(d.filter(col("doc_id") % 3 === 0), dir, "cluster", Seq("doc_id"), "doc_id")
    SkippingIndex.append(d.filter(col("doc_id") % 3 === 1), dir, "cluster", Seq("doc_id"), "doc_id", 1L)
    // under the keep threshold: janitor leaves the chain alone
    assert(CommitLog.janitor(spark, dir, keep = 2).removed.isEmpty)
    SkippingIndex.append(d.filter(col("doc_id") % 3 === 2), dir, "cluster", Seq("doc_id"), "doc_id", 2L)
    def allRows() = SkippingIndex.readClusters(spark, dir,
      SkippingIndex.stats(spark, dir).select(col("cluster").cast("long"))
        .collect().map(_.getLong(0)).toSeq).count()
    val n = allRows()
    assert(n == d.count())
    val report = CommitLog.janitor(spark, dir, keep = 2)
    assert(report.substrate == "skipping-index" && report.removed == Seq(0L, 1L, 2L))
    assert(SkippingIndex.sideVersionCount(spark, dir) == 1L && allRows() == n)
  }

  test("a janitor fold that throws releases its base claim; an append at that id then succeeds") {
    val d = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("cluster", expr("doc_id div 16"))
    val dir = tmp("graft-cl-skip-fail")
    SkippingIndex.build(d.filter(col("doc_id") % 3 === 0), dir, "cluster", Seq("doc_id"), "doc_id")
    SkippingIndex.append(d.filter(col("doc_id") % 3 === 1), dir, "cluster", Seq("doc_id"), "doc_id", 1L)
    SkippingIndex.append(d.filter(col("doc_id") % 3 === 2), dir, "cluster", Seq("doc_id"), "doc_id", 2L)
    val indexFile = s"$dir/${SkippingIndex.IndexFile}"
    val descriptor = ArtifactIO.readString(spark, indexFile)
    // the fold fails after the janitor allocated base id 3
    ArtifactIO.writeAtomicString(spark, indexFile, "corrupt")
    intercept[MatchError](CommitLog.janitor(spark, dir, keep = 2))
    assert(CommitLog.claimed(spark, dir, SkippingIndex.BasePrefix).isEmpty,
      "the failed fold leaked its base claim")
    ArtifactIO.writeAtomicString(spark, indexFile, descriptor)
    // 3 is also the producer's next id
    val extra = d.filter(col("doc_id") % 3 === 0).withColumn("doc_id", col("doc_id") + 1000000L)
    SkippingIndex.append(extra, dir, "cluster", Seq("doc_id"), "doc_id", 3L)
    def allRows() = SkippingIndex.readClusters(spark, dir,
      SkippingIndex.stats(spark, dir).select(col("cluster").cast("long"))
        .collect().map(_.getLong(0)).toSeq).count()
    val n = d.count() + extra.count()
    assert(allRows() == n)
    assert(CommitLog.janitor(spark, dir, keep = 2).removed == Seq(0L, 1L, 2L, 3L))
    assert(SkippingIndex.sideVersionCount(spark, dir) == 1L && allRows() == n)
  }

  test("janitor dispatches by descriptor: delta-state chain folds deltas into a base") {
    import spark.implicits._
    val dir = tmp("graft-cl-ds")
    val layout = Seq(DeltaState.Table("t", DeltaState.Sum(Seq("k"))))
    (0L to 3L).foreach { v =>
      DeltaState.writeDelta(spark, dir, v, layout,
        Seq("t" -> Seq(("a", 1L), ("b", 2L)).toDF("k", "n")))
    }
    val want = DeltaState.asOf(spark, dir, layout.head).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val report = CommitLog.janitor(spark, dir)
    assert(report.substrate == "delta-state" && report.removed.nonEmpty)
    val got = DeltaState.asOf(spark, dir, layout.head).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got == Map("a" -> 4L, "b" -> 8L))
  }
}

/** A `mock://` scheme backed by the local filesystem — the standard
  * Hadoop-test trick for executing a FileSystem-API code path (here
  * CommitLog.atomicCreate's non-`file` branch) without a real cluster.
  */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}
