package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** THE transaction log shared by every versioned substrate in the repo:
  * the delta-state sink chains ([[graft.streaming.DeltaState]]), the
  * skipping-index sidecars ([[graft.sources.SkippingIndex]]) and the
  * deletion-vector tables ([[graft.operators.DeletionVectors]]) are
  * layouts over one version [[Chain]]. A real lakehouse has ONE commit
  * protocol that every writer goes through (Delta's `_delta_log`,
  * Iceberg's metadata tree); this object is its single description:
  *
  *  - LAYOUT: `<prefix><id>/` directories under a table directory. A
  *    BASE is a snapshot superseding every piece at or below its id; a
  *    DELTA holds one write's changes. Ids are monotonic across prefixes
  *    ([[Scan.maxId]]).
  *  - PUBLICATION: a version is visible only once its [[Marker]] exists,
  *    and [[Chain.write]] creates the marker only after every table of
  *    the version has landed — a crash between table writes leaves an
  *    uncommitted directory no reader selects.
  *  - REPLAY: producers that assign ids deterministically (streaming
  *    batch ids) OVERWRITE version v on redelivery — exactly-once lands
  *    on idempotent replay, not on locking. [[Chain.write]] clears v's
  *    marker BEFORE the overwrite, so a crash mid-replay also leaves v
  *    uncommitted (the torn-replay window).
  *  - VISIBILITY ([[Scan.visible]]): the newest committed base below a
  *    cutoff plus the committed deltas above it. A fold that published a
  *    newer base supersedes the folded pieces by version arithmetic
  *    alone, so a reader racing the fold is consistent either way.
  *  - RETENTION ([[Chain.retire]]): superseded pieces are deleted only
  *    after the superseding base commits. A reader that listed the chain
  *    just before the fold still opens what it listed, so concurrent-
  *    reader deployments retire one [[janitor]] pass LATER (the
  *    retention window — Delta's vacuum-after-retention).
  *  - EXCLUSIVE ids ([[claim]]/[[allocate]] + [[publishExclusive]]):
  *    concurrent ad-hoc writers (two engineers' takedown jobs, a
  *    compaction racing an append) serialize by ATOMIC CREATE of
  *    `<prefix><id>._CLAIM` — the first writer to create it owns the id;
  *    the loser gets [[CommitConflict]] and retries at the next id
  *    against the now-newer state. This is rename-as-commit at directory
  *    scale — the same single-atomic-operation trick the reference
  *    engine uses for task output files (`worker.rs:107-114`: write
  *    temp, rename into place, first one wins). Claim BEFORE writing any
  *    data, so two writers never interleave writes into one version dir.
  *
  * Atomicity of the claim, per store: local file systems go through
  * `O_EXCL` ([[java.nio.file.Files.createFile]] — POSIX-atomic); HDFS
  * `create(overwrite = false)` is atomic at the NameNode; S3 needs a
  * conditional PUT (`If-None-Match`), which the S3A connector exposes —
  * documented, like every [[ArtifactIO]] store note, not assumed. The
  * marker is a single-object create: atomic on HDFS/ABFS/local and on S3
  * (PUT is all-or-nothing), the same contract as Spark's _SUCCESS.
  */
object CommitLog {
  val Marker = "_COMMITTED"
  val ClaimSuffix = "._CLAIM"

  /** Thrown when a writer loses an exclusive commit race: its version id
    * was claimed or published by another writer first. The loser must
    * re-read state and retry with a fresh id ([[allocate]] does both).
    */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** A version chain under `dir`: one base prefix and the delta prefixes
    * of a store's layout (protocol in the object doc).
    */
  final case class Chain(dir: String, basePrefix: String, deltaPrefixes: Seq[String] = Nil) {
    val prefixes: Seq[String] = basePrefix +: deltaPrefixes

    def path(prefix: String, id: Long): String = s"$dir/$prefix$id"
    def claimPath(prefix: String, id: Long): String = s"${path(prefix, id)}$ClaimSuffix"

    /** One listing of `dir`: every version directory and every claim,
      * for every prefix.
      */
    def scan(spark: SparkSession): Scan = {
      val parsed = ArtifactIO.list(spark, dir).flatMap(n => prefixes.flatMap(p => parse(p, n)))
      new Scan(this, spark, parsed.collect { case (p, id, false) => (p, id) },
        parsed.collect { case (p, id, true) => (p, id) })
    }

    /** Write version `<prefix><id>`: clear its marker, run the table
      * writes concurrently ([[ArtifactIO.inParallelMap]]), each given the
      * version directory, then publish — unless `publish = false` (a
      * caller that validates first). A failed write rethrows unpublished.
      */
    def write[T](spark: SparkSession, prefix: String, id: Long, publish: Boolean = true)(
        tables: (String => T)*): Seq[T] = {
      val vdir = path(prefix, id)
      ArtifactIO.delete(spark, s"$vdir/$Marker")
      val out = ArtifactIO.inParallelMap(tables.map(t => () => t(vdir)))
      if (publish) CommitLog.publish(spark, vdir)
      out
    }

    /** Delete the committed pieces a base at `floor` supersedes — bases
      * below it, deltas at or below it — among `among`. Returns the
      * retired ids, ascending.
      */
    def retire(spark: SparkSession, floor: Long, among: Seq[String] = prefixes): Seq[Long] = {
      val s = scan(spark)
      val dead = among.flatMap(p => s.committed(p)
        .filter(v => v < floor || (v == floor && p != basePrefix)).map(p -> _))
      dead.foreach { case (p, v) => ArtifactIO.delete(spark, path(p, v)) }
      dead.map(_._2).sorted
    }
  }

  /** `<prefix><id>` or `<prefix><id>._CLAIM` → (prefix, id, isClaim). */
  private def parse(prefix: String, name: String): Option[(String, Long, Boolean)] = {
    val id = name.stripSuffix(ClaimSuffix).stripPrefix(prefix)
    if (!name.startsWith(prefix) || id.isEmpty || !id.forall(_.isDigit)) None
    else Some((prefix, id.toLong, name.endsWith(ClaimSuffix)))
  }

  /** One listing of a [[Chain]]: its version dirs and claims. Markers
    * are probed on first use, so a caller that needs none (an unmarked
    * chain, a claim check) costs one listing.
    */
  final class Scan(val chain: Chain, spark: SparkSession, pieces: Seq[(String, Long)],
      claims: Seq[(String, Long)]) {
    private lazy val done: Set[(String, Long)] =
      pieces.filter { case (p, id) => isCommitted(spark, chain.path(p, id)) }.toSet
    private def ids(of: Iterable[(String, Long)], prefix: String): Seq[Long] =
      of.collect { case (`prefix`, id) => id }.toSeq.sorted

    /** Every listed version id of `prefix`, marked or not. */
    def all(prefix: String): Seq[Long] = ids(pieces, prefix)
    def committed(prefix: String): Seq[Long] = ids(done, prefix)
    def uncommitted(prefix: String): Seq[Long] = ids(pieces.filterNot(done), prefix)
    def claimed(prefix: String): Seq[Long] = ids(claims, prefix)

    /** Claims whose version has not committed — writers in flight, or
      * crashed — ascending by (prefix, id).
      */
    def liveClaims: Seq[(String, Long)] =
      claims.filterNot { case (p, id) => isCommitted(spark, chain.path(p, id)) }.sorted

    /** Highest committed id over every prefix, ignoring the caller's own
      * piece `except` (a replayed version): the monotonic-id check.
      */
    def maxCommitted(except: (String, Long)*): Long =
      (done.filterNot(except.contains).map(_._2) + -1L).max

    /** Highest committed or claimed id over every prefix (−1 if none):
      * the allocation floor.
      */
    def maxId: Long = (claims.map(_._2) :+ maxCommitted()).max

    /** Committed deltas with `lo < id < hi`, each delta prefix ascending. */
    def deltasIn(lo: Long, hi: Long): Seq[(String, Long)] =
      chain.deltaPrefixes.flatMap(p => committed(p).filter(v => v > lo && v < hi).map(p -> _))

    /** THE visibility rule: the newest committed base below `cutoff`
      * plus the committed deltas above it and below `cutoff`.
      */
    def visible(cutoff: Long = Long.MaxValue): Seq[(String, Long)] = {
      val base = committed(chain.basePrefix).filter(_ < cutoff).lastOption
      base.map(chain.basePrefix -> _).toSeq ++ deltasIn(base.getOrElse(-1L), cutoff)
    }
  }

  def isCommitted(spark: SparkSession, versionDir: String): Boolean =
    ArtifactIO.exists(spark, s"$versionDir/$Marker")

  /** `dir`'s committed `<prefix><id>` ids ascending (all of them with
    * `markerGated = false`, for unmarked single-table chains).
    */
  def committedVersions(spark: SparkSession, dir: String, prefix: String,
      markerGated: Boolean = true): Seq[Long] = {
    val s = Chain(dir, prefix).scan(spark)
    if (markerGated) s.committed(prefix) else s.all(prefix)
  }

  /** Ids currently CLAIMED (reserved by a writer that may still be
    * in flight) for `prefix` under `dir`.
    */
  def claimed(spark: SparkSession, dir: String, prefix: String): Seq[Long] =
    Chain(dir, prefix).scan(spark).claimed(prefix)

  /** Publish a version: its tables are all on disk; readers may now
    * select it. Idempotent (replay republished its own overwrite).
    */
  def publish(spark: SparkSession, versionDir: String): Unit =
    ArtifactIO.fs(spark, versionDir).create(new Path(versionDir, Marker), true).close()

  // ------------------------------------------------------------------
  // exclusive publication (optimistic concurrency)
  // ------------------------------------------------------------------

  private def atomicCreate(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      // O_EXCL — atomic on POSIX; Hadoop's local create(overwrite=false)
      // is an exists()-then-create TOCTOU, so go through NIO directly
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try { java.nio.file.Files.createFile(local); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      val f = ArtifactIO.fs(spark, path)
      try { f.create(p, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  /** Reserve version id `id` of `<prefix>` under `dir` by atomic create
    * of the claim file. Throws [[CommitConflict]] if another writer
    * holds it (claimed OR already committed). Claim before writing any
    * table data into the version directory.
    */
  def claim(spark: SparkSession, dir: String, prefix: String, id: Long): Unit = {
    if (isCommitted(spark, s"$dir/$prefix$id"))
      throw new CommitConflict(s"$prefix$id under $dir is already committed")
    if (!atomicCreate(spark, Chain(dir, prefix).claimPath(prefix, id)))
      throw new CommitConflict(s"$prefix$id under $dir is claimed by another writer")
    validateClaim(spark, dir, prefix, id)
  }

  /** Post-create re-check closing the TOCTOU between [[claim]]'s
    * isCommitted check and its atomic create: [[publishExclusive]]
    * creates the marker THEN deletes the winner's claim, so a racer
    * whose isCommitted check ran before the marker landed can re-create
    * the claim file after it is deleted and believe it owns an already-
    * committed id — its overwrite would then trample committed
    * data. Re-checking AFTER the create is sound: a commit marker can
    * only appear for an id whose claim the committer held, so if the
    * marker exists now, this claim is the stale-racer case — release it
    * and conflict.
    */
  private[graft] def validateClaim(spark: SparkSession, dir: String,
      prefix: String, id: Long): Unit =
    if (isCommitted(spark, s"$dir/$prefix$id")) {
      ArtifactIO.delete(spark, Chain(dir, prefix).claimPath(prefix, id))
      throw new CommitConflict(
        s"$prefix$id under $dir was committed while being claimed (raced a publishExclusive)")
    }

  /** Allocate the next free version id above `floor`, every committed id
    * and every live claim, reserving it via [[claim]]; racing allocators
    * serialize (the loser's claim conflicts and it probes upward).
    * Callers pass `floor` = the highest id their substrate knows from
    * OTHER prefixes (e.g. a deletion-vector table's base versions), so
    * cross-prefix monotonicity holds under concurrency too.
    */
  def allocate(spark: SparkSession, dir: String, prefix: String,
      floor: Long = -1L): Long = {
    var id = math.max(Chain(dir, prefix).scan(spark).maxId, floor) + 1
    var attempts = 0
    while (attempts < 1000) {
      try { claim(spark, dir, prefix, id); return id }
      catch { case _: CommitConflict => id += 1; attempts += 1 }
    }
    throw new CommitConflict(s"could not allocate a $prefix id under $dir after 1000 probes")
  }

  /** Publish a claimed version EXCLUSIVELY: refuses (conflict) if the
    * version is already committed — the double-commit guard — and
    * releases the claim on success. The marker create itself is the
    * atomic commit point.
    */
  def publishExclusive(spark: SparkSession, versionDir: String): Unit = {
    if (!atomicCreate(spark, s"$versionDir/$Marker"))
      throw new CommitConflict(s"$versionDir is already committed by another writer")
    ArtifactIO.delete(spark, s"$versionDir$ClaimSuffix")
  }

  /** Drop stale claims whose version never committed and whose id is
    * below the newest committed one — crash debris no writer can target
    * again (allocation always probes above the newest committed id).
    */
  def releaseStaleClaims(spark: SparkSession, dir: String, prefix: String): Seq[Long] = {
    val s = Chain(dir, prefix).scan(spark)
    val newest = s.committed(prefix).lastOption.getOrElse(-1L)
    s.liveClaims.collect { case (_, id) if id < newest =>
      ArtifactIO.delete(spark, s.chain.claimPath(prefix, id)); id
    }
  }

  // ------------------------------------------------------------------
  // the janitor — ONE compaction entry point for every substrate
  // ------------------------------------------------------------------

  final case class JanitorReport(substrate: String, removed: Seq[Long])

  /** Run `fold` under a base id allocated THROUGH THIS LOG above
    * `floor` — the store's [[Scan.maxId]]: a new base id below an
    * in-flight writer's claimed id would misorder that writer's version
    * against the fold. The base claim is released even if `fold` throws.
    */
  def foldUnderNewBase(spark: SparkSession, chain: Chain, floor: Long)(
      fold: Long => Seq[Long]): Seq[Long] = {
    val id = allocate(spark, chain.dir, chain.basePrefix, floor)
    try fold(id) finally ArtifactIO.delete(spark, chain.claimPath(chain.basePrefix, id))
  }

  /** The substrates the janitor knows: report name, the descriptor file
    * each writes at creation, and its fold (`keep` = retention count).
    */
  private lazy val stores: Seq[(String, String, (SparkSession, String, Int) => Seq[Long])] = Seq(
    ("delta-state", graft.streaming.DeltaState.LayoutFile,
      (s, d, keep) => graft.streaming.DeltaState.compact(s, d, math.max(keep, 2))),
    ("deletion-vectors", graft.operators.DeletionVectors.ManifestFile,
      graft.operators.DeletionVectors.janitorPass),
    ("skipping-index", graft.sources.SkippingIndex.IndexFile,
      graft.sources.SkippingIndex.janitorPass))

  /** Compact/retire versions of the table at `dir`, whatever substrate
    * it is, identified by its own descriptor file (so a generic janitor
    * needs no out-of-band type registry) and folded by that store's rule
    * ([[graft.streaming.DeltaState.compact]],
    * [[graft.operators.DeletionVectors.janitorPass]],
    * [[graft.sources.SkippingIndex.janitorPass]]). Returns what was
    * retired; unrecognized directories are left untouched ("none").
    */
  def janitor(spark: SparkSession, dir: String, keep: Int = 2): JanitorReport =
    stores.find { case (_, descriptor, _) => ArtifactIO.exists(spark, s"$dir/$descriptor") }
      .fold(JanitorReport("none", Seq.empty)) { case (name, _, fold) =>
        JanitorReport(name, fold(spark, dir, keep))
      }
}
