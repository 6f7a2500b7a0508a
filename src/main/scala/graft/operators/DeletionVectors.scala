package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ArtifactIO, CommitLog}

/** DELETION VECTORS — row-level deletes on immutable columnar storage
  * without rewriting data files (the Delta/Iceberg "merge-on-read
  * position delete" pattern): the base table is written once, sharded
  * into partition directories with a stable per-row POSITION, and each
  * delete writes only a (shard, pos) sidecar — O(deleted rows) of IO,
  * while the read path masks deleted positions with a broadcast
  * anti-join. Periodic [[compactApply]] folds the vectors in by
  * rewriting ONLY the shards that have deletions, leaving clean shards'
  * files untouched (a manifest maps each shard to the base version that
  * serves it). At 100 TB this is the GDPR/right-to-be-forgotten and
  * retroactive-curation write path: a takedown of 10k documents costs
  * kilobytes of sidecar, not a warehouse rewrite, and the masking join
  * broadcasts (the DV set is delete-scale, never data-scale).
  *
  * On-disk layout under `outDir`, a [[CommitLog.Chain]] (publication,
  * replay and retention protocol: [[CommitLog]]) whose bases are
  * chosen per shard by the manifest rather than by the chain:
  *  - `base_v=<id>/data/shard=<s>/…` — immutable shard files; v0 is the
  *    initial write, later versions hold only shards rewritten by a
  *    compaction;
  *  - `dv_v=<id>/dv/` — one delete's (shard, pos) rows;
  *  - `append_v=<id>/data/shard=<s>/…` — one append's rows;
  *  - `_MANIFEST` — `shard|baseVersion` lines: which base version
  *    serves each shard (atomic single-object rewrite).
  *
  * Positions are assigned ONCE at [[writeBase]] (per-shard rank over
  * the caller's ordering columns) and are NEVER reassigned — a
  * compaction preserves surviving rows' positions (gaps are fine), so
  * (shard, pos) references in later deletion vectors stay valid across
  * compactions.
  */
object DeletionVectors {
  val BasePrefix = "base_v="
  val DvPrefix = "dv_v="
  val AppendPrefix = "append_v="
  val ManifestFile = "_MANIFEST"

  /** Appended rows get positions in a per-version namespace
    * (`(versionId << PosShift) + per-shard rank`): globally unique
    * against every base/append position without reading storage, and
    * never reused after deletes — the invariant later deletion vectors
    * rely on. 2^40 positions per shard per version.
    */
  val PosShift = 40

  private def chain(outDir: String) =
    CommitLog.Chain(outDir, BasePrefix, Seq(DvPrefix, AppendPrefix))

  /** Initial immutable write: `df` must carry a long `shard` column;
    * assigns `pos` per shard by `orderCols` (a per-shard window —
    * per-file ordering, what a real format's writer gets for free at
    * task commit), writes `base_v=0` partitioned by shard, and points
    * every shard's manifest entry at v0.
    */
  def writeBase(df: DataFrame, outDir: String, orderCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    require(df.columns.contains("shard"), "writeBase needs a 'shard' column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(orderCols.map(col): _*)
    val withPos = df.withColumn("pos", row_number().over(w).cast("long"))
    chain(outDir).write(spark, BasePrefix, 0L) { dir =>
      // an EMPTY base writes unpartitioned so the directory keeps a
      // readable schema (partitionBy on zero rows writes no files at all);
      // later appends anchor on it via the manifest derivation
      if (df.isEmpty) withPos.write.mode("overwrite").parquet(s"$dir/data")
      else withPos.write.mode("overwrite").partitionBy("shard").parquet(s"$dir/data")
    }
    // |shards|-row driver collect: the manifest is metadata-scale
    val shards = withPos.select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    ArtifactIO.writeAtomicString(spark, s"$outDir/$ManifestFile",
      shards.map(s => s"$s|0").mkString("\n"))
  }

  /** Manifest lines are `shard|baseVersion[|baseRoot]` — the optional
    * third field points a shard's base at ANOTHER table's directory,
    * which is what makes [[clone]] zero-copy: a clone's manifest
    * references the source's immutable base files by path; its own
    * writes land locally. Absent root = this table's own directory.
    *
    * Shards a committed APPEND introduced that the file does not list
    * are DERIVED here (from the append dirs' `shard=` partition
    * directories — a metadata-scale listing, no data read), anchored at
    * the oldest base entry, which serves them zero rows; the append
    * itself carries the data, visible because anchor version <
    * append id. Deriving at read time — instead of having [[appendRows]]
    * read-modify-write the shared file — removes the manifest write
    * race entirely: after [[writeBase]] the only manifest MUTATOR is
    * [[compactApply]], which runs under a commit-log-allocated base id
    * (the ADVICE-r11 lost-entry window). `_MANIFEST` itself stays an
    * atomic single-object rewrite.
    */
  private def manifest(spark: SparkSession, outDir: String): Seq[(Long, Long, String)] = {
    val fileEntries = ArtifactIO.readString(spark, s"$outDir/$ManifestFile")
      .split("\n").toSeq.filter(_.nonEmpty).map { l =>
        l.split("\\|") match {
          case Array(s, v) => (s.toLong, v.toLong, outDir)
          case Array(s, v, root) => (s.toLong, v.toLong, root)
        }
      }
    val known = fileEntries.map(_._1).toSet
    val scan = chain(outDir).scan(spark)
    val novel = scan.committed(AppendPrefix)
      .flatMap { id =>
        ArtifactIO.list(spark, s"$outDir/$AppendPrefix$id/data")
          .filter(_.startsWith("shard="))
          .map(_.stripPrefix("shard="))
          .filter(s => s.nonEmpty && s.forall(c => c.isDigit || c == '-'))
          .map(_.toLong)
      }.distinct.filterNot(known).sorted
    if (novel.isEmpty) fileEntries
    else {
      val (anchorV, anchorRoot) =
        if (fileEntries.nonEmpty) { val e = fileEntries.minBy(_._2); (e._2, e._3) }
        else {
          // writeBase ran on an EMPTY DataFrame: no per-shard entries,
          // but base_v=<min> still anchors the derived ones (schema-only)
          val bases = scan.committed(BasePrefix)
          require(bases.nonEmpty,
            s"table at $outDir has no manifest entries and no committed base version — " +
              "writeBase must run before appends")
          (bases.min, outDir)
        }
      fileEntries ++ novel.map(s => (s, anchorV, anchorRoot))
    }
  }

  /** The manifest as a DataFrame `(shard, base_version)` — metadata
    * scale (|shards| rows), for audits over which shards a compaction
    * rewrote.
    */
  def shardVersions(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    manifest(spark, outDir).map(e => (e._1, e._2)).toDF("shard", "base_version")
  }

  private def manifestLine(outDir: String)(e: (Long, Long, String)): String =
    if (e._3 == outDir) s"${e._1}|${e._2}" else s"${e._1}|${e._2}|${e._3}"

  /** ZERO-COPY CLONE: branch the table into `dstDir` by writing a
    * manifest whose entries point at the source's immutable base files
    * and copying only the delete-scale sidecars (committed DVs and
    * appends) — never a data file. From then on the branches are
    * ISOLATED: each side's new deletes/upserts/compactions land in its
    * own directory, so experiments mutate the clone while the source
    * serves, at metadata cost (the 100 TB "CREATE TABLE CLONE").
    * Retention caveat (documented, like every shallow clone): a
    * base-file GC on the source must account for clone references.
    */
  def clone(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    ArtifactIO.delete(spark, dstDir)
    ArtifactIO.mkdirs(spark, dstDir)
    val m = manifest(spark, srcDir)
    ArtifactIO.writeAtomicString(spark, s"$dstDir/$ManifestFile",
      m.map(manifestLine(dstDir)).mkString("\n"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = ArtifactIO.fs(spark, srcDir)
    chain(srcDir).scan(spark).deltasIn(-1L, Long.MaxValue).map { case (p, v) => s"$p$v" }
      .foreach { d =>
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$srcDir/$d"),
          fs, new org.apache.hadoop.fs.Path(s"$dstDir/$d"), false, conf)
      }
  }

  /** The manifest's newest base version: sidecars at or below it are
    * provably FOLDED — a compaction's base id exceeds every sidecar id
    * live at fold time and rewrites every shard those sidecars touch,
    * and no later sidecar can land at or below it ([[readBefore]]/
    * [[appendRows]] monotonicity) — so skipping them is free
    * correctness-wise and makes retention-retained debris cost zero read
    * IO. The chain's visibility rule takes it as the delta floor.
    */
  private def manifestFloor(m: Seq[(Long, Long, String)]): Long = (m.map(_._2) :+ -1L).max

  private def dvUnion(spark: SparkSession, outDir: String, ids: Seq[Long]): Option[DataFrame] =
    if (ids.isEmpty) None
    else Some(ids.map(v => spark.read.parquet(s"$outDir/$DvPrefix$v/dv")).reduce(_ unionByName _))

  /** The live table: each shard read from the base version its manifest
    * entry names (cluster `IN` → PartitionFilters), PLUS every committed
    * append whose version is NEWER than the shard's base (the version
    * guard: a compaction that folded an append into a new base makes the
    * append dir invisible by version arithmetic alone, so a reader
    * racing the compaction's GC can never double-count or lose appended
    * rows), MINUS every committed deletion vector's positions — the DV
    * side is delete-scale, so the anti-join BROADCASTS (plan-asserted
    * in DeletionVectorsSpec); the base never shuffles.
    */
  def read(spark: SparkSession, outDir: String): DataFrame =
    readWithCutoff(spark, outDir, Long.MaxValue)

  /** The table as version `v`'s WRITER saw it: only sidecars (DVs and
    * appends) committed with ids STRICTLY BELOW `v` apply. This is what
    * makes every mutation replay-idempotent — a redelivered write
    * recomputes against its predecessors, never against its own earlier
    * (possibly torn) attempt. Refuses when a compaction has already
    * folded version `v` into a base (manifest base version ≥ v): the
    * pre-v state is gone, and recomputing against the folded view would
    * silently corrupt the replay (the ADVICE-r10 unmasking bug) — the
    * same below-the-floor refusal contract as
    * [[graft.streaming.DeltaState]] time travel.
    */
  def readBefore(spark: SparkSession, outDir: String, v: Long): DataFrame = {
    val folded = manifest(spark, outDir).filter(_._2 >= v)
    require(folded.isEmpty,
      s"version $v is at or below the compaction floor (shards ${folded.map(_._1).sorted.mkString(",")} " +
        s"already folded into base >= $v) — a replay of $v cannot be recomputed")
    readWithCutoff(spark, outDir, v)
  }

  /** Reads fold O(unfolded sidecar versions) files — bounded in any
    * healthy table by the janitor. A janitor-less table must degrade
    * LOUDLY, not linearly: past this many unfolded DV+append versions
    * the read refuses and names the fix. Override (e.g. for a one-off
    * migration read) with -Dgraft.dv.maxUnfoldedVersions=N.
    */
  def maxUnfoldedVersions: Int =
    sys.props.get("graft.dv.maxUnfoldedVersions").map(_.toInt).getOrElse(128)

  private def readWithCutoff(spark: SparkSession, outDir: String, below: Long,
      guarded: Boolean = true): DataFrame = {
    val m = manifest(spark, outDir)
    val scan = chain(outDir).scan(spark)
    val unfolded = scan.deltasIn(manifestFloor(m), Long.MaxValue)
    require(!guarded || unfolded.size <= maxUnfoldedVersions,
      s"${unfolded.size} unfolded sidecar versions under $outDir exceed " +
        s"graft.dv.maxUnfoldedVersions=$maxUnfoldedVersions — run CommitLog.janitor " +
        "to fold the chain (or raise the property for a one-off read)")
    val byVersion = m.groupBy(e => (e._3, e._2)).toSeq.sortBy(_._1)
    val base =
      if (byVersion.nonEmpty) byVersion.map { case ((root, v), entries) =>
        val shards = entries.map(_._1)
        spark.read.parquet(s"$root/$BasePrefix$v/data")
          .filter(col("shard").isin(shards: _*))
      }.reduce(_ unionByName _)
      else {
        // empty-base table, no appends yet: serve the (schema-only) base
        val bases = scan.committed(BasePrefix)
        require(bases.nonEmpty, s"no manifest entries and no committed base under $outDir")
        spark.read.parquet(s"$outDir/$BasePrefix${bases.min}/data")
      }
    val live = unfolded.filter(_._2 < below)
    val withAppends = live.collect { case (AppendPrefix, id) => id }
      .foldLeft(base) { (acc, id) =>
        // version guard: include only shards still served by an OLDER base
        val visibleShards = m.filter(_._2 < id).map(_._1)
        if (visibleShards.isEmpty) acc
        else acc.unionByName(
          spark.read.parquet(s"$outDir/$AppendPrefix$id/data")
            .filter(col("shard").isin(visibleShards: _*)))
      }
    dvUnion(spark, outDir, live.collect { case (DvPrefix, id) => id }) match {
      case Some(dv) =>
        withAppends.join(broadcast(dv.select(col("shard"), col("pos"))),
          Seq("shard", "pos"), "left_anti")
      case None => withAppends
    }
  }

  /** Append `df` (shard + business columns, no pos) as version
    * `appendId` — O(batch) IO, no base rewrite. Positions land in the
    * version's own namespace (see [[PosShift]]); per-shard rank over
    * `orderCols` keeps the assignment deterministic. `appendId` must
    * exceed every existing base version (monotonic version ids — the
    * version guard in [[read]] depends on it).
    */
  def appendRows(spark: SparkSession, outDir: String, df: DataFrame,
      orderCols: Seq[String], appendId: Long, commit: Boolean = true): Long = {
    require(df.columns.contains("shard"), "appendRows needs a 'shard' column")
    val m = manifest(spark, outDir)
    // the version guard in read() is arithmetic on ids — it only holds if
    // ids are actually monotonic, so validate instead of documenting
    require(m.forall(_._2 < appendId),
      s"appendId $appendId must exceed every manifest base version (max ${m.map(_._2).max})")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(orderCols.map(col): _*)
    val withPos = df.withColumn("pos",
      lit(appendId << PosShift) + row_number().over(w).cast("long"))
    // Shards this batch INTRODUCES need no manifest write here: the
    // manifest derivation lists every committed append's shard=
    // directories at read time (see [[manifest]]) — the marker create
    // is the whole commit, so no shared-file read-modify-write can race
    // another writer
    chain(outDir).write(spark, AppendPrefix, appendId, commit) { dir =>
      withPos.write.mode("overwrite").partitionBy("shard").parquet(s"$dir/data")
      spark.read.parquet(s"$dir/data").count()
    }.head
  }

  /** MERGE-ON-READ UPSERT (the lakehouse MERGE INTO shape): live rows
    * matching the batch on `keyCols` are masked by a deletion vector
    * and the whole batch lands as an append — one O(batch) sidecar +
    * one O(batch) data write, no base rewrite; [[read]] serves the
    * merged view and [[compactApply]] folds both in later. REPLAY-
    * idempotent: the match scan is [[readBefore]] version `v` — only
    * sidecars with ids < v apply — so a redelivered upsert recomputes
    * the same vector against its predecessors. (Filtering out only v's
    * own position NAMESPACE is not enough: the replay's read would
    * apply v's own committed DV, see an already-masked predecessor,
    * recompute an EMPTY vector, and overwrite the original sidecar —
    * unmasking the updated base rows. The ADVICE-r10 bug.)
    * Returns (rows updated, rows appended).
    */
  def upsert(spark: SparkSession, outDir: String, batch: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String], v: Long,
      commit: Boolean = true): (Long, Long) = {
    // NOT overlapped with the append (unlike the read-only audit collects
    // elsewhere): the DV-before-append commit order is part of the pinned
    // crash-window story — parallelizing would add a new torn state
    // (append committed, mask missing: duplicates under read) the spec'd
    // sequence never produces. Job-latency win would be ~0.1 s; skipped.
    val nDel = writeDv(spark, outDir, v, commit)(
      _.join(batch.select(keyCols.map(col): _*), keyCols, "left_semi"))
    val nApp = appendRows(spark, outDir, batch, orderCols, v, commit)
    (nDel, nApp)
  }

  /** Write deletion vector `dvId`: the positions of the rows live before
    * it ([[readBefore]]) that `matching` keeps. Returns their count.
    */
  private def writeDv(spark: SparkSession, outDir: String, dvId: Long, commit: Boolean = true)(
      matching: DataFrame => DataFrame): Long = {
    val rows = matching(readBefore(spark, outDir, dvId)).select(col("shard"), col("pos"))
    chain(outDir).write(spark, DvPrefix, dvId, commit) { dir =>
      rows.write.mode("overwrite").parquet(s"$dir/dv")
      spark.read.parquet(s"$dir/dv").count()
    }.head
  }

  /** Delete the rows live BEFORE version `dvId` matching `pred`; rows
    * already masked by earlier vectors are not re-recorded (the sidecars
    * stay disjoint), and a RETRIED delete recomputes against the
    * pre-delete state ([[readBefore]]) instead of finding its targets
    * already masked and writing an empty vector over the original.
    * Returns the number of positions written.
    */
  def deleteWhere(spark: SparkSession, outDir: String, pred: Column,
      dvId: Long): Long =
    writeDv(spark, outDir, dvId)(_.filter(pred))

  /** Delete the live rows matching `keys` on `joinCols` (the GDPR /
    * takedown-list shape: the delete set arrives as keys, not a
    * predicate). Same disjointness + replay contract as [[deleteWhere]].
    */
  def deleteMatching(spark: SparkSession, outDir: String, keys: DataFrame,
      joinCols: Seq[String], dvId: Long): Long =
    writeDv(spark, outDir, dvId)(_.join(keys, joinCols, "left_semi"))

  /** Fold the deletion vectors AND appends in: rewrite ONLY the shards
    * that carry deletions or appended rows into `base_v=newBaseId`
    * (surviving rows keep their positions), repoint those shards'
    * manifest entries, then garbage-collect the superseded sidecars.
    * Clean shards' files are untouched. Publication order makes a
    * racing reader consistent at every step: the new base commits
    * BEFORE the manifest flips (an old-manifest reader still merges
    * DVs + appends itself), and after the flip the version guard in
    * [[read]] hides every folded append (base version > append id)
    * while leftover DVs anti-join positions that are already gone —
    * so GC has no read-VISIBILITY effect whenever it runs. `gc = true`
    * retires the folded sidecars immediately; concurrent-reader
    * deployments pass `gc = false` and [[vacuumSidecars]] one retention
    * window later. The manifest rewrite here is the only post-writeBase
    * manifest mutation (appends derive their entries at read time), and
    * it runs under the janitor's log-allocated base id — run one
    * janitor at a time. Returns the rewritten shard ids.
    */
  def compactApply(spark: SparkSession, outDir: String, newBaseId: Long,
      gc: Boolean = true): Seq[Long] = {
    val m0 = manifest(spark, outDir)
    val c = chain(outDir)
    val scan = c.scan(spark)
    // read()'s version guard (appends visible only where base < append id)
    // is pure id arithmetic — a non-monotonic newBaseId would silently
    // hide unfolded appends or double-count folded ones, so validate here
    val maxSeen = math.max(scan.maxCommitted(BasePrefix -> newBaseId), manifestFloor(m0))
    require(newBaseId > maxSeen,
      s"newBaseId $newBaseId must exceed every committed DV/append id and base version (max $maxSeen)")
    // sidecars at or below the manifest floor were folded by an earlier
    // pass (retention debris awaiting vacuum) — they contribute no dirt
    val unfolded = scan.deltasIn(manifestFloor(m0), Long.MaxValue)
    // |shards|-bounded driver collects (metadata scale) — all read-only
    // probes of committed sidecars, so overlapped (guide §2.6): one task
    // for the DV union plus one per unfolded append version
    val dirtyTasks: Seq[() => Set[Long]] =
      (() => dvUnion(spark, outDir, unfolded.collect { case (DvPrefix, id) => id })
        .map(_.select(col("shard").cast("long"))
          .distinct().collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)) +:
      unfolded.collect { case (AppendPrefix, id) => id }.map { id => () =>
        val visible = m0.filter(_._2 < id).map(_._1).toSet
        spark.read.parquet(s"$outDir/$AppendPrefix$id/data")
          .select(col("shard").cast("long")).distinct()
          .collect().map(_.getLong(0)).filter(visible).toSet
      }
    val dirty = ArtifactIO.inParallelMap(dirtyTasks).reduce(_ ++ _).toSeq.sorted
    if (dirty.isEmpty) return Seq.empty
    ArtifactIO.delete(spark, c.path(BasePrefix, newBaseId)) // crashed previous attempt
    c.write(spark, BasePrefix, newBaseId) { dir =>
      // unguarded: this IS the fold the chain-length guard points at
      readWithCutoff(spark, outDir, Long.MaxValue, guarded = false)
        .filter(col("shard").isin(dirty: _*))
        .write.mode("overwrite").partitionBy("shard").parquet(s"$dir/data")
    }
    val m = m0.map { case (s, v, root) =>
      if (dirty.contains(s)) (s, newBaseId, outDir) else (s, v, root)
    }
    ArtifactIO.writeAtomicString(spark, s"$outDir/$ManifestFile",
      m.map(manifestLine(outDir)).mkString("\n"))
    if (gc) c.retire(spark, newBaseId, Seq(DvPrefix, AppendPrefix))
    dirty
  }

  // ------------------------------------------------------------------
  // CONCURRENT WRITERS — the explicit-version API above assumes ONE
  // writer picks ids (a stream's batch ids). Two ad-hoc writers (a
  // takedown job racing a curation upsert) instead ALLOCATE their
  // version through the shared commit log's atomic claim. Allocation
  // alone does NOT serialize the SNAPSHOTS: a writer holding id N runs
  // readBefore(N) while a lower-id writer is claimed-but-uncommitted,
  // and if that writer then commits, N's mutation was computed against
  // a stale view (two same-key upserts would each mask the old row and
  // each append a copy — a duplicate key; the ADVICE-r11 lost update).
  // So [[commitValidated]] adds the two missing pieces of optimistic
  // concurrency (Delta's ConcurrentModificationException pattern):
  //
  //  1. WAIT for every lower claimed id to resolve before reading —
  //     bounded; a crashed claimant surfaces as a loud CommitConflict
  //     naming the stale claim, never as silent corruption;
  //  2. VALIDATE at publish: the mutation's tables are written
  //     UNCOMMITTED, and markers land only if the committed-sidecar
  //     set + manifest the snapshot saw are unchanged and no lower
  //     claim appeared — otherwise the attempt is discarded and
  //     recomputed at a fresh id against the now-newer state.
  //
  // Between validation and the marker create no lower id can commit:
  // a committing writer needs a lower LIVE claim, validation saw none,
  // and allocation only probes ABOVE this writer's own live claim —
  // sound for every writer that allocates through the log (the
  // explicit-id API stays single-writer by contract). CommitLogSpec
  // pins the interleavings including the genuine same-key race.
  // ------------------------------------------------------------------

  /** How long a log-allocating writer waits for LOWER claimed ids to
    * resolve before declaring them crashed (override with
    * -Dgraft.dv.claimWaitMs=N).
    */
  def claimWaitMs: Long =
    sys.props.get("graft.dv.claimWaitMs").map(_.toLong).getOrElse(30000L)

  /** Live claims below `below` whose version has NOT committed — an
    * in-flight (or crashed) writer this snapshot must wait out. A claim
    * whose version IS committed is resolved: its effect is visible and
    * [[snapshotToken]] captures it (claim files can linger when an
    * explicit-id writer committed without releasing, or in
    * publishExclusive's marker-then-delete gap).
    */
  private def lowerClaims(spark: SparkSession, outDir: String, below: Long): Seq[String] =
    chain(outDir).scan(spark).liveClaims.collect { case (p, id) if id < below => s"$p$id" }

  /** Everything a `readBefore(below)` snapshot depends on: the committed
    * sidecars below it and the manifest bytes. Equal tokens ⇒ equal
    * snapshots.
    */
  private def snapshotToken(spark: SparkSession, outDir: String,
      below: Long): (Seq[(String, Long)], String) =
    (chain(outDir).scan(spark).deltasIn(-1L, below),
      ArtifactIO.readString(spark, s"$outDir/$ManifestFile"))

  private def awaitLowerClaims(spark: SparkSession, outDir: String, id: Long): Unit = {
    val deadline = System.nanoTime() + claimWaitMs * 1000000L
    var pending = lowerClaims(spark, outDir, id)
    while (pending.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      pending = lowerClaims(spark, outDir, id)
    }
    if (pending.nonEmpty)
      throw new CommitLog.CommitConflict(
        s"claims below $id on $outDir unresolved after ${claimWaitMs}ms " +
          s"(${pending.mkString(", ")}) — a crashed writer's claim must be " +
          "released (CommitLog.releaseStaleClaims, or manually) before later " +
          "snapshots can validate")
  }

  /** The optimistic-concurrency harness shared by the *Concurrent
    * wrappers: allocate → wait out lower claims → snapshot → run `body`
    * (which writes its versions of `prefixes` UNCOMMITTED) → revalidate
    * → publish-or-discard, retrying a discarded attempt at a fresh id.
    * `body` gets the claimed id; returns (id, body result).
    */
  private def commitValidated[T](spark: SparkSession, outDir: String, prefixes: String*)
      (body: Long => T): (Long, T) = {
    var attempts = 0
    while (attempts < 8) {
      val id = CommitLog.allocate(spark, outDir, DvPrefix, versionFloor(spark, outDir))
      val dirs = prefixes.map(chain(outDir).path(_, id))
      val ok =
        try {
          awaitLowerClaims(spark, outDir, id)
          val snap = snapshotToken(spark, outDir, id)
          val result = body(id)
          if (snapshotToken(spark, outDir, id) == snap &&
              lowerClaims(spark, outDir, id).isEmpty) {
            // DV marker before append marker: a reader in the gap sees
            // the masked rows gone but not yet their replacements —
            // momentary under-read, never a duplicate key
            dirs.foreach(d => CommitLog.publish(spark, d))
            Some(result)
          } else {
            dirs.foreach(d => ArtifactIO.delete(spark, d))
            None
          }
        } finally ArtifactIO.delete(spark, chain(outDir).claimPath(DvPrefix, id))
      ok match {
        case Some(result) => return (id, result)
        case None => attempts += 1
      }
    }
    throw new CommitLog.CommitConflict(
      s"writer on $outDir lost the snapshot-validation race $attempts times — retry later")
  }

  /** Physically delete sidecars an earlier [[compactApply]] already
    * folded (at or below the manifest floor, already invisible). Bases
    * are never retired here: the manifest may still serve clean shards
    * from any of them. Returns the retired ids.
    */
  def vacuumSidecars(spark: SparkSession, outDir: String): Seq[Long] =
    chain(outDir).retire(spark, manifestFloor(manifest(spark, outDir)), Seq(DvPrefix, AppendPrefix))

  /** Highest id any versioned piece of the table carries, claims
    * included — the allocation floor that keeps ids monotonic ACROSS
    * prefixes (a DV claimed at id 7 must also exceed append 6 and
    * base 5). The manifest counts too: a clone's entries name the
    * source's bases, which its own chain does not list.
    */
  private def versionFloor(spark: SparkSession, outDir: String): Long =
    math.max(chain(outDir).scan(spark).maxId, manifestFloor(manifest(spark, outDir)))

  /** The janitor's pass: vacuum what the previous pass folded, then
    * fold under a log-allocated base id with GC deferred. No debris
    * sweep: a concurrent upsert claims only `dv_v=<id>`, so its in-flight
    * `append_v=<id>` would look like debris below the new base.
    */
  private[graft] def janitorPass(spark: SparkSession, outDir: String, keep: Int): Seq[Long] = {
    vacuumSidecars(spark, outDir)
    CommitLog.foldUnderNewBase(spark, chain(outDir), versionFloor(spark, outDir))(
      compactApply(spark, outDir, _, gc = false))
  }

  /** [[deleteWhere]] with commit-log id allocation and commit-time
    * snapshot validation. Returns (version id, positions deleted).
    */
  def deleteWhereConcurrent(spark: SparkSession, outDir: String,
      pred: Column): (Long, Long) =
    commitValidated(spark, outDir, DvPrefix)(id =>
      writeDv(spark, outDir, id, commit = false)(_.filter(pred)))

  /** [[deleteMatching]] with commit-log id allocation and commit-time
    * snapshot validation.
    */
  def deleteMatchingConcurrent(spark: SparkSession, outDir: String,
      keys: DataFrame, joinCols: Seq[String]): (Long, Long) =
    commitValidated(spark, outDir, DvPrefix)(id =>
      writeDv(spark, outDir, id, commit = false)(_.join(keys, joinCols, "left_semi")))

  /** [[upsert]] with commit-log id allocation and commit-time snapshot
    * validation (the id claims BOTH the DV and the append slot — one
    * claim on the DV prefix, since ids are shared across prefixes by the
    * [[versionFloor]] convention). Returns (version id, rows updated,
    * rows appended).
    */
  def upsertConcurrent(spark: SparkSession, outDir: String, batch: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String]): (Long, Long, Long) = {
    val (id, (nDel, nApp)) = commitValidated(spark, outDir, DvPrefix, AppendPrefix)(
      upsert(spark, outDir, batch, keyCols, orderCols, _, commit = false))
    (id, nDel, nApp)
  }
}
