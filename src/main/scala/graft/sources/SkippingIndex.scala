package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ArtifactIO, CommitLog}
import graft.functions.PortableHash

/** FILE-LEVEL DATA-SKIPPING INDEX — the lakehouse table-format feature
  * (Delta/Iceberg/Hudi file statistics + bloom filters) re-expressed
  * Spark-first: a table is written clustered into partition directories
  * (the stand-ins for "files" at demo scale), and a sidecar STATS table
  * carries, per cluster,
  *
  *  - min/max of the declared range columns (zone maps), and
  *  - a fixed-width bloom filter over a declared point-lookup column,
  *
  * so a selective query consults the |files|-row stats table FIRST and
  * plans a scan over only the clusters that can possibly match. At
  * 100 TB this is the difference between "scan the corpus to find one
  * document" and "read the 2 files whose zone map / bloom admits the
  * key": the stats table is metadata-scale (one row per file — millions
  * of rows for a 100 TB table, a trivial driver/broadcast read exactly
  * like every table format's manifest), and the data scan is driven by
  * `cluster IN (…)`, which Spark turns into PartitionFilters — files
  * outside the selection are never opened.
  *
  * STORAGE is a [[CommitLog.Chain]] (round 11 — before that, appends
  * wrote `mode("append")` straight into the live cluster directories,
  * so a RETRIED append duplicated data rows while its sidecars
  * overwrote, and nothing marked a torn build; publication, replay,
  * visibility and retention protocol: [[CommitLog]]):
  *
  *  - `base_v=<id>/{data,stats,bloom}` — a snapshot superseding every
  *    version ≤ id (the initial [[build]] is `base_v=0`);
  *  - `v=<id>/{data,stats,bloom}`      — one append batch's delta;
  *  - `_INDEX`                          — the column descriptor
  *    (cluster/range/bloom columns), so a generic janitor can
  *    [[compact]] without knowing the table.
  *
  * All three sidecar aggregates are MERGEABLE sketches
  * (count → sum, zone map → min/max, bloom → bit-or), so the fold is
  * metadata-scale and ingestion never recomputes global statistics
  * (the Iceberg "metadata is mergeable manifests" property).
  *
  * The bloom is built from PORTABLE arithmetic only ([[PortableHash]]
  * coefficients, mod 2^31−1, positions into `Words`×63-bit words) so an
  * independent engine replays bit-identical masks from the same input —
  * 63 data bits per word because engines that trap BIGINT overflow
  * (DuckDB) reject `1 << 63`. k = 2 probes; with 32 words (2016 bits)
  * a 100-key file sits at ~10% occupancy → ~1% false-positive rate.
  * False positives cost a wasted file read; false negatives are
  * impossible (the spec pins this).
  *
  * Reference scope note: the reference engine (another-map-reduce)
  * always scans every input file (`worker.rs:93` — whole files, no
  * statistics); skipping indexes are part of the beyond-reference
  * 100 TB surface, like Z-ordering (q111) and bucketed joins (q116).
  */
object SkippingIndex {
  /** 63 usable bits per bloom word — `1 << 63` overflows BIGINT in
    * engines that trap (DuckDB); staying below the sign bit keeps every
    * mask positive and the arithmetic identical everywhere.
    */
  val WordBits = 63
  /** Bloom width in 63-bit words (2016 bits). */
  val Words = 32
  val P: Long = PortableHash.MinHashP
  /** k = 2 independent probe hash functions, derived from the same
    * deterministic coefficient family as the MinHash permutations
    * (indices 101/102 — disjoint from the signature family's 0..127 by
    * convention only; any fixed pair works).
    */
  val (probeA1, probeB1) = PortableHash.minHashCoeffs(101)
  val (probeA2, probeB2) = PortableHash.minHashCoeffs(102)

  val VersionPrefix = "v="
  val BasePrefix = "base_v="
  val IndexFile = "_INDEX"

  private def chain(outDir: String) = CommitLog.Chain(outDir, BasePrefix, Seq(VersionPrefix))

  /** Bit position of probe `j` (0/1) for hash column `h` (values in
    * [0, 2^31): both probes stay in Long range — a·h < 2^62).
    */
  def bitposCol(h: Column, j: Int): Column = {
    val (a, b) = if (j == 0) (probeA1, probeB1) else (probeA2, probeB2)
    ((h % P) * lit(a) + lit(b)) % P % (Words * WordBits)
  }

  /** Driver-side twin of [[bitposCol]] for probing with a literal key. */
  def bitposScala(h: Long, j: Int): Long = {
    val (a, b) = if (j == 0) (probeA1, probeB1) else (probeA2, probeB2)
    ((h % P) * a + b) % P % (Words * WordBits)
  }

  /** Initial write: the whole table as snapshot `base_v=0` (data
    * clustered by `clusterCol` — one partition directory per cluster,
    * the "file" granule — plus the stats and bloom sidecars), and the
    * `_INDEX` descriptor that makes the table self-describing for the
    * generic janitor.
    */
  def build(df: DataFrame, outDir: String, clusterCol: String,
      rangeCols: Seq[String], bloomCol: String): Unit =
    initialize(df, outDir, clusterCol, rangeCols, bloomCol, withData = true)

  /** Sidecars-ONLY build: statistics over a table whose data lives
    * ELSEWHERE (Iceberg's "metadata over existing files" — at
    * production scale the stats are emitted by the data writer's own
    * task commits, so the index never re-reads the table it described).
    * Writes `_INDEX` + a `base_v=0` holding stats and bloom but no data
    * copy; [[selectRange]]/[[selectPoint]] work as usual and the
    * admitted clusters drive the EXTERNAL table's pruned scan (e.g. a
    * deletion-vector table's `shard IN (…)` — the q221 composition).
    * [[compact]] on such an index folds the mergeable sidecars only.
    */
  def buildStats(df: DataFrame, outDir: String, clusterCol: String,
      rangeCols: Seq[String], bloomCol: String): Unit =
    initialize(df, outDir, clusterCol, rangeCols, bloomCol, withData = false)

  private def initialize(df: DataFrame, outDir: String, clusterCol: String,
      rangeCols: Seq[String], bloomCol: String, withData: Boolean): Unit = {
    ArtifactIO.writeAtomicString(df.sparkSession, s"$outDir/$IndexFile",
      s"$clusterCol|${rangeCols.mkString(",")}|$bloomCol")
    writeVersion(df, outDir, BasePrefix, 0L, clusterCol, rangeCols, bloomCol, withData)
  }

  /** Append a batch's sidecar aggregates to a stats-only index (the
    * maintenance twin of [[buildStats]] — same replayable-version
    * contract as [[append]]).
    */
  def appendStats(df: DataFrame, outDir: String, clusterCol: String,
      rangeCols: Seq[String], bloomCol: String, appendId: Long): Unit =
    appendVersion(df, outDir, clusterCol, rangeCols, bloomCol, appendId, withData = false)

  /** Append a batch as delta version `appendId`: one O(batch) data
    * write plus the batch's own mergeable sidecar aggregates, all in
    * the version's OWN directory — the live base files are never
    * touched, and a RETRIED append overwrites its own version instead
    * of duplicating rows. The caller's cluster assignment must be
    * ingestion-stable (same cluster function as [[build]]); `appendId`
    * must exceed every OTHER committed version (validated — replay of
    * its own id is the one legitimate reuse).
    */
  def append(df: DataFrame, outDir: String, clusterCol: String,
      rangeCols: Seq[String], bloomCol: String, appendId: Long): Unit =
    appendVersion(df, outDir, clusterCol, rangeCols, bloomCol, appendId, withData = true)

  private def appendVersion(df: DataFrame, outDir: String, clusterCol: String,
      rangeCols: Seq[String], bloomCol: String, appendId: Long, withData: Boolean): Unit = {
    val others = chain(outDir).scan(df.sparkSession).maxCommitted(VersionPrefix -> appendId)
    require(appendId > others,
      s"appendId $appendId must exceed every other committed version (max $others)")
    writeVersion(df, outDir, VersionPrefix, appendId, clusterCol, rangeCols, bloomCol, withData)
  }

  private def writeVersion(df: DataFrame, outDir: String, prefix: String, id: Long,
      clusterCol: String, rangeCols: Seq[String], bloomCol: String, withData: Boolean): Unit = {
    // 2-3 consumers below (data copy, stats, bloom): materialize the
    // input once instead of re-running its DAG per write. Skipped when
    // the caller already persisted it (unpersisting here would drop the
    // caller's cache).
    val ownCache = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownCache) df.persist()
    val aggs = count(lit(1)).as("n_rows") +:
      rangeCols.flatMap(c => Seq(min(c).as(s"min_$c"), max(c).as(s"max_$c")))
    val stats = df.groupBy(col(clusterCol).as("cluster"))
      .agg(aggs.head, aggs.tail: _*)
    val probes = Seq(0, 1).map(j =>
      df.select(col(clusterCol).as("cluster"), bitposCol(col(bloomCol), j).as("bp")))
      .reduce(_ unionByName _)
    val bloom = probes
      .select(col("cluster"), (col("bp") / WordBits).cast("long").as("word"),
        expr(s"shiftleft(cast(1 as bigint), cast(bp % $WordBits as int))").as("m"))
      .groupBy("cluster", "word").agg(bit_or(col("m")).as("mask"))
    val writes = Seq[String => Unit](
      vdir => stats.write.mode("overwrite").parquet(s"$vdir/stats"),
      vdir => bloom.write.mode("overwrite").parquet(s"$vdir/bloom")) ++
      (if (withData) Seq((vdir: String) =>
        df.write.mode("overwrite").partitionBy(clusterCol).parquet(s"$vdir/data"))
       else Seq.empty)
    try chain(outDir).write(df.sparkSession, prefix, id)(writes: _*)
    finally if (ownCache) df.unpersist()
  }

  /** The version directories a reader folds ([[CommitLog.Scan.visible]]). */
  def visibleVersionDirs(spark: SparkSession, outDir: String): Seq[String] = {
    val c = chain(outDir)
    c.scan(spark).visible().map { case (p, v) => c.path(p, v) }
  }

  /** Number of storage versions folded at read time (1 after a build;
    * +1 per append until [[compact]] folds them).
    */
  def sideVersionCount(spark: SparkSession, outDir: String): Long =
    visibleVersionDirs(spark, outDir).size.toLong

  private def sideUnion(spark: SparkSession, outDir: String, side: String): DataFrame =
    visibleVersionDirs(spark, outDir).map(d => spark.read.parquet(s"$d/$side"))
      .reduce(_ unionByName _)

  /** The stats sidecar with versions FOLDED by merge kind (count → sum,
    * zone map → min/max) — one row per cluster, metadata scale.
    */
  def stats(spark: SparkSession, outDir: String): DataFrame = {
    val u = sideUnion(spark, outDir, "stats")
    val valCols = u.columns.filterNot(_ == "cluster").toSeq
    val aggs = valCols.map {
      case c if c == "n_rows" => sum(c).as(c)
      case c if c.startsWith("min_") => min(c).as(c)
      case c if c.startsWith("max_") => max(c).as(c)
      case c => sys.error(s"unknown stats column $c")
    }
    u.groupBy("cluster").agg(aggs.head, aggs.tail: _*)
  }

  /** Clusters whose [min, max] zone for `rangeCol` overlaps [lo, hi] —
    * a driver-side read of the |files|-row stats table (the manifest
    * pattern: bounded by file count, not data volume).
    */
  def selectRange(spark: SparkSession, outDir: String, rangeCol: String,
      lo: Long, hi: Long): Seq[Long] =
    stats(spark, outDir)
      .filter(col(s"min_$rangeCol") <= hi && col(s"max_$rangeCol") >= lo)
      .select(col("cluster").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Clusters whose bloom admits hash `h`: both probe bits present.
    * Driver-side over the bloom sidecar (≤ versions × |files| × Words
    * rows; the probe touches exactly the two words each probe lands
    * in). A bit present in ANY version row is present in the bit-or
    * fold, so the probe reads the version union directly — no merge
    * materialization.
    */
  def selectPoint(spark: SparkSession, outDir: String, h: Long): Seq[Long] = {
    val hits = Seq(0, 1).map { j =>
      val bp = bitposScala(h, j)
      val (w, b) = (bp / WordBits, bp % WordBits)
      sideUnion(spark, outDir, "bloom")
        .filter(col("word") === w && (col("mask").bitwiseAND(lit(1L << b))) =!= 0L)
        .select(col("cluster").cast("long"))
        .collect().map(_.getLong(0)).toSet
    }
    (hits.head intersect hits(1)).toSeq.sorted
  }

  /** Read ONLY the selected clusters across the visible versions: each
    * version's `isin` lands in its scan's PartitionFilters, so
    * unselected directories are never opened (plan- and metric-asserted
    * in SkippingIndexSpec).
    */
  def readClusters(spark: SparkSession, outDir: String, ids: Seq[Long]): DataFrame =
    visibleVersionDirs(spark, outDir)
      .map(d => spark.read.parquet(s"$d/data").filter(col("cluster").isin(ids: _*)))
      .reduce(_ unionByName _)

  /** Fold every visible version into one snapshot `base_v=<newId>` (the
    * small-file / OPTIMIZE compaction): data rewritten clustered, fresh
    * single-version sidecars, columns from `_INDEX`. Returns the
    * superseded version ids. `gc = true` (the single-writer-no-
    * concurrent-readers convenience) retires them at once; concurrent-
    * reader deployments pass `gc = false` and [[vacuum]] one retention
    * window later.
    */
  def compact(spark: SparkSession, outDir: String, newId: Long,
      gc: Boolean = true): Seq[Long] = {
    val c = chain(outDir)
    val s = c.scan(spark)
    require(s.maxCommitted() < newId,
      s"compaction id $newId must exceed every committed version")
    val Array(clusterCol, rangeCsv, bloomCol) =
      ArtifactIO.readString(spark, s"$outDir/$IndexFile").split("\\|", -1)
    val rangeCols = rangeCsv.split(",").toSeq.filter(_.nonEmpty)
    val visible = visibleVersionDirs(spark, outDir)
    if (visible.forall(d => ArtifactIO.exists(spark, s"$d/data"))) {
      val union = visible.map(d => spark.read.parquet(s"$d/data"))
        .reduce(_ unionByName _)
        // partition-dir readback can widen/narrow the cluster column type;
        // pin it so every generation's layout stays union-compatible
        .withColumn(clusterCol, col(clusterCol).cast("long"))
      writeVersion(union, outDir, BasePrefix, newId, clusterCol, rangeCols, bloomCol,
        withData = true)
    } else {
      // stats-only index ([[buildStats]]): fold the mergeable sidecars
      // themselves — count → sum / zone → min-max / bloom → bit-or —
      // at metadata scale, no data to rewrite
      c.write(spark, BasePrefix, newId)(
        vdir => stats(spark, outDir).write.mode("overwrite").parquet(s"$vdir/stats"),
        vdir => sideUnion(spark, outDir, "bloom")
          .groupBy("cluster", "word").agg(bit_or(col("mask")).as("mask"))
          .write.mode("overwrite").parquet(s"$vdir/bloom"))
    }
    val superseded = (s.committed(BasePrefix) ++ s.committed(VersionPrefix)).sorted
    if (gc) c.retire(spark, newId)
    superseded
  }

  /** Physically delete what an earlier [[compact]] superseded (the
    * pieces below the newest committed base, already invisible). Returns
    * the retired version ids.
    */
  def vacuum(spark: SparkSession, outDir: String): Seq[Long] = {
    val c = chain(outDir)
    c.scan(spark).committed(BasePrefix).lastOption.toSeq.flatMap(c.retire(spark, _))
  }

  /** The janitor's pass: vacuum what the previous pass superseded, then,
    * past `keep` visible versions, fold under a log-allocated base id
    * with GC deferred.
    */
  private[graft] def janitorPass(spark: SparkSession, outDir: String, keep: Int): Seq[Long] = {
    val c = chain(outDir)
    vacuum(spark, outDir)
    if (sideVersionCount(spark, outDir) <= keep) Seq.empty
    else CommitLog.foldUnderNewBase(spark, c, c.scan(spark).maxId)(
      compact(spark, outDir, _, gc = false))
  }

  // ------------------------------------------------------------------
  // PARTITION-SPEC EVOLUTION (the Iceberg table-evolution contract):
  // a table root holds one complete skipping index per layout
  // generation under `spec=<id>/`. Evolving the spec = writing new
  // data under a NEW spec id — history is never rewritten (zero data
  // movement), and the directory listing is the spec manifest, exactly
  // like the version dirs. Old specs retire as their files age out or
  // compaction rewrites them under the current spec.
  // ------------------------------------------------------------------

  /** Write `df` as layout generation `specId` of the multi-spec table
    * at `outDir` (a standard [[build]] under `spec=<id>/`). The caller
    * picks the generation's own cluster function — that is the point
    * of evolution.
    */
  def buildSpec(df: DataFrame, outDir: String, specId: Long, clusterCol: String,
      rangeCols: Seq[String], bloomCol: String): Unit =
    build(df, s"$outDir/spec=$specId", clusterCol, rangeCols, bloomCol)

  /** The live layout generations of a multi-spec table, oldest first. */
  def liveSpecs(spark: SparkSession, outDir: String): Seq[Long] =
    CommitLog.committedVersions(spark, outDir, "spec=", markerGated = false)

  /** Range read ACROSS every live layout generation: each spec prunes
    * from its OWN |files|-row zone-map sidecar, each admitted set
    * drives its own PartitionFilters scan, and the union (tagged with
    * `spec_id`) is exactly the predicate's rows — the reader never
    * knows the layout changed. Plan cost: one metadata consultation
    * per live spec; scan cost: admitted directories only.
    */
  def readRangeAcrossSpecs(spark: SparkSession, outDir: String, rangeCol: String,
      lo: Long, hi: Long): DataFrame =
    liveSpecs(spark, outDir).map { id =>
      val root = s"$outDir/spec=$id"
      readClusters(spark, root, selectRange(spark, root, rangeCol, lo, hi))
        .filter(col(rangeCol).between(lo, hi))
        .withColumn("spec_id", lit(id))
    }.reduce(_ unionByName _)
}
