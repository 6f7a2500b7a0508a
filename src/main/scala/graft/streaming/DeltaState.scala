package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ArtifactIO, CommitLog}

/** DELTA-LOG storage for the version-chained streaming sink states
  * (aggMaint / joinMaint / boilerMaint / hllMaint): each micro-batch
  * writes only its DELTA — the rows it touched — instead of a full
  * state copy, so per-batch IO is O(batch), not O(state). The current
  * state is reconstructed at read time by MERGING the newest base
  * snapshot with the committed deltas above it (the LSM read path),
  * and periodic [[compact]]ion folds old deltas into a new base so the
  * merge fan-in stays bounded. At 100 TB state this is the difference
  * between a sink that writes megabytes per batch and one that
  * rewrites the warehouse.
  *
  * On-disk layout under `outDir`, a [[CommitLog.Chain]] (publication,
  * replay and visibility protocol: [[CommitLog]]):
  *  - `v=<batchId>/<table>/…`        — the batch's delta, one subdir per
  *    state table (a sink may write only the tables its side touches);
  *  - `base_v=<id>/<table>/…`        — a compacted snapshot of the state
  *    AS OF version `id` INCLUSIVE (supersedes every delta ≤ id);
  *  - `_LAYOUT`                      — the table descriptors (name, merge
  *    kind, keys), written once so a generic janitor can compact without
  *    knowing the sink type.
  *
  * Replay contract (unchanged from the full-copy era): a redelivered
  * batch recomputes its delta against the state AS OF versions < its
  * id ([[asOf]] with a cutoff) and overwrites its own delta directory
  * through the chain's version write (no torn replay).
  *
  * Merge kinds — how a table's base + delta rows collapse to state:
  *  - [[Lww]]: keyed snapshot, newest VERSION wins per key (upsert
  *    streams; version order is delivery order, so this is
  *    last-writer-wins with a deterministic total order);
  *  - [[Sum]]: additive table — state is the per-key SUM of all delta
  *    contributions (± delta maintenance; a base is just a big delta);
  *  - [[SetU]]: a key SET — state is the distinct union (served-ids);
  *  - [[HllMax]]: HLL register arrays — elementwise max merge
  *    (associative, commutative, idempotent).
  */
object DeltaState {
  sealed trait Kind { def keys: Seq[String] }
  final case class Lww(keys: Seq[String]) extends Kind
  final case class Sum(keys: Seq[String]) extends Kind
  final case class SetU(keys: Seq[String]) extends Kind
  final case class HllMax(keys: Seq[String], regs: String) extends Kind
  final case class Table(name: String, kind: Kind)

  val DeltaPrefix = "v="
  val BasePrefix = "base_v="
  val LayoutFile = "_LAYOUT"
  private val layoutWriteLock = new Object

  private def chain(outDir: String) = CommitLog.Chain(outDir, BasePrefix, Seq(DeltaPrefix))

  /** Schema sidecar per table (`_SCHEMA_<table>`), written once on the
    * first delta: every chain read previously paid a parquet
    * schema-INFERENCE job per piece (footer reads submitted as a Spark
    * job — measured ~12 such jobs per q190 run, one per asOf/merge
    * consumer), pure driver-latency overhead for a schema the writer
    * already knew (guide §1.2). Readers pass the stored schema to
    * `spark.read.schema(...)`; stored all-NULLABLE, which is exactly
    * what parquet inference yields, so plans and results are unchanged.
    * Missing sidecar (pre-existing chains) falls back to inference.
    */
  private def schemaPath(outDir: String, name: String) = s"$outDir/_SCHEMA_$name"

  private def allNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = allNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = allNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Check-then-write under a JVM lock: two version commits of ONE chain
    * may themselves run concurrently (ArtifactIO.inParallel callers), and
    * racing renames onto the same `_LAYOUT`/`_SCHEMA_` destination throw
    * on local FS. Content is identical either way — the lock just
    * serializes the lay.
    */
  private def writeOnce(spark: SparkSession, path: String, content: => String): Unit =
    layoutWriteLock.synchronized {
      if (!ArtifactIO.exists(spark, path)) ArtifactIO.writeAtomicString(spark, path, content)
    }

  private def readTable(spark: SparkSession, outDir: String, name: String,
      paths: Seq[String]): DataFrame = {
    val sp = schemaPath(outDir, name)
    val reader =
      if (ArtifactIO.exists(spark, sp))
        spark.read.schema(org.apache.spark.sql.types.DataType
          .fromJson(ArtifactIO.readString(spark, sp))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      else spark.read
    reader.parquet(paths: _*)
  }

  /** Write one batch's delta tables as version `batchId` of the chain
    * (sibling tables overlap; the marker publishes after all of them).
    * The layout file is written on the first batch so [[compact]] stays
    * generic.
    */
  def writeDelta(spark: SparkSession, outDir: String, batchId: Long,
      layout: Seq[Table], tables: Seq[(String, DataFrame)]): Unit = {
    writeOnce(spark, s"$outDir/$LayoutFile", layoutString(layout))
    chain(outDir).write(spark, DeltaPrefix, batchId)(tables.map { case (name, df) =>
      (vdir: String) => {
        writeOnce(spark, schemaPath(outDir, name), allNullable(df.schema).json)
        df.write.mode("overwrite").parquet(s"$vdir/$name")
      }
    }: _*)
  }

  /** The state of `table` as of versions STRICTLY BELOW `cutoffExclusive`
    * (None = current state): the chain's visible pieces, merged. None
    * when no visible piece carries the table (e.g. the right snapshot
    * before any right-side batch).
    */
  def asOf(spark: SparkSession, outDir: String, table: Table,
      cutoffExclusive: Option[Long] = None): Option[DataFrame] = {
    val pieces = visiblePieces(spark, outDir, table, cutoffExclusive)
    if (pieces.isEmpty) None
    else {
      val u = pieces.map { case (v, path) =>
        readTable(spark, outDir, table.name, Seq(path)).withColumn("__dsv", lit(v))
      }.reduce(_ unionByName _)
      Some(applyKind(table.kind, u))
    }
  }

  /** The same visible pieces as [[asOf]], read as ONE multi-path scan
    * with no merge: the state's rows as a multiset (a [[SetU]] key
    * carried by two pieces appears twice). Only for readers whose
    * result is the same over the multiset and its set — an anti-join
    * screen — so they skip the merge's shuffle.
    */
  private[streaming] def unmerged(spark: SparkSession, outDir: String, table: Table,
      cutoffExclusive: Option[Long]): Option[DataFrame] = {
    val pieces = visiblePieces(spark, outDir, table, cutoffExclusive)
    if (pieces.isEmpty) None else Some(readTable(spark, outDir, table.name, pieces.map(_._2)))
  }

  /** (version, path) of each visible piece that carries `table`, below
    * the cutoff — the one listing rule of [[asOf]] and [[unmerged]].
    */
  private def visiblePieces(spark: SparkSession, outDir: String, table: Table,
      cutoffExclusive: Option[Long]): Seq[(Long, String)] = {
    val c = chain(outDir)
    c.scan(spark).visible(cutoffExclusive.getOrElse(Long.MaxValue))
      .map { case (p, v) => v -> s"${c.path(p, v)}/${table.name}" }
      .filter { case (_, p) => ArtifactIO.exists(spark, p) }
  }

  /** Highest committed version id — the "current" version readers see.
    * None when nothing is committed.
    */
  def latest(spark: SparkSession, outDir: String): Option[Long] =
    chain(outDir).scan(spark).visible().lastOption.map(_._2)

  /** CHANGE DATA FEED between two versions — the delta-log's second
    * dividend after time travel: the per-key row-level changes
    * (insert / update / delete, with pre- and post-images) the state
    * underwent from version `fromV` (exclusive; pass −1 for "since
    * empty") to `toV` (inclusive). Downstream consumers — cache
    * invalidation, incremental re-index, audit feeds — read O(changes)
    * instead of re-diffing two O(state) snapshots themselves.
    *
    * Read cost: when every committed piece in `(fromV, toV]` is still a
    * DELTA, the touched-key set comes from those delta files alone and
    * the pre/post states are probed ONLY at the touched keys (a
    * broadcast-scale semi-join for typical batches) — O(deltas in
    * range) + two keyed state lookups, never a full-state diff. When
    * compaction has folded part of the range into a base snapshot, the
    * per-version slices are gone and the feed falls back to a full
    * pre-vs-post outer diff — the same result, at O(state) cost (the
    * documented retention trade every CDF system has: change feeds
    * require retained commits; spec-pinned equal on randomized
    * schedules).
    *
    * Returns None when either endpoint is unreconstructible: `toV`
    * ahead of nothing committed, or `fromV ≥ 0` below the compaction
    * floor (no committed piece ≤ fromV while a folded base above it
    * exists — the state at fromV is unknowable, and treating it as
    * empty would mislabel every change as an insert; same refusal
    * contract as the as-of reads). Output: key columns, `change`
    * ('insert' | 'update' | 'delete'), and `pre_<c>` / `post_<c>` for
    * every value column. Unchanged keys are absent; a delete cannot
    * arise from the current merge kinds (no tombstones) but is
    * classified for forward compatibility.
    */
  def changesBetween(spark: SparkSession, outDir: String, table: Table,
      fromV: Long, toV: Long): Option[DataFrame] = {
    val s = chain(outDir).scan(spark)
    val (bases, deltas) = (s.committed(BasePrefix), s.committed(DeltaPrefix))
    val post0 = asOf(spark, outDir, table, Some(toV + 1))
    if (post0.isEmpty) return None
    val havePieceAtOrBelowFrom = (bases ++ deltas).exists(_ <= fromV)
    if (fromV >= 0 && !havePieceAtOrBelowFrom && bases.exists(_ > fromV)) return None
    val pre0 = if (fromV < 0) None else asOf(spark, outDir, table, Some(fromV + 1))
    val post = post0.get
    val keys = table.kind.keys
    val valCols = post.columns.filterNot(keys.contains).toSeq
    val empty = post.filter(lit(false))
    // Sliced path: every piece in range is a delta → touched keys from
    // the delta files alone; else full-diff fallback (see scaladoc).
    val rangeDeltas = deltas.filter(v => v > fromV && v <= toV)
    val rangeBases = bases.filter(v => v > fromV && v <= toV)
    val touched: Option[DataFrame] =
      if (rangeBases.nonEmpty) None
      else {
        val dirs = rangeDeltas.map(v => s"$outDir/$DeltaPrefix$v/${table.name}")
          .filter(ArtifactIO.exists(spark, _))
        if (dirs.isEmpty) Some(empty.select(keys.map(col): _*))
        else Some(readTable(spark, outDir, table.name, dirs)
          .select(keys.map(col): _*).distinct())
      }
    def restrict(df: DataFrame): DataFrame = touched match {
      case Some(t) => df.join(t, keys, "left_semi")
      case None => df
    }
    val p = restrict(pre0.getOrElse(empty))
      .select((keys.map(col) :+ lit(1).as("__pre")) ++
        valCols.map(c => col(c).as(s"pre_$c")): _*)
    val q = restrict(post)
      .select((keys.map(col) :+ lit(1).as("__post")) ++
        valCols.map(c => col(c).as(s"post_$c")): _*)
    val changed: Column =
      if (valCols.isEmpty) lit(false)
      else valCols.map(c => !(col(s"pre_$c") <=> col(s"post_$c"))).reduce(_ || _)
    val j = p.join(q, keys, "full_outer")
      .withColumn("change",
        when(col("__post").isNull, lit("delete"))
          .when(col("__pre").isNull, lit("insert"))
          .when(changed, lit("update"))
          .otherwise(lit("none")))
      .filter(col("change") =!= "none")
    Some(j.select((keys.map(col) :+ col("change")) ++
      valCols.flatMap(c => Seq(col(s"pre_$c"), col(s"post_$c"))): _*))
  }

  private def applyKind(kind: Kind, u: DataFrame): DataFrame = {
    val orig = u.columns.filterNot(_ == "__dsv").toSeq
    val out = kind match {
      case Lww(keys) =>
        // version ids are distinct across pieces, so the rank-1 row per
        // key is unique — deterministic last-writer-wins
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col("__dsv").desc)
        u.withColumn("__dsrn", row_number().over(w)).filter(col("__dsrn") === 1)
      case Sum(keys) =>
        val others = orig.filterNot(keys.contains)
        u.groupBy(keys.map(col): _*)
          .agg(sum(others.head).as(others.head),
            others.tail.map(c => sum(c).as(c)): _*)
      case SetU(_) =>
        u.select(orig.map(col): _*).distinct()
      case HllMax(keys, regs) =>
        // fold the per-version register arrays by elementwise max; the
        // collect_list per group is (#pieces × m) values — bounded by
        // the compaction cadence, independent of stream length
        u.groupBy(keys.map(col): _*)
          .agg(collect_list(col(regs)).as("__dsl"))
          .select(keys.map(col) :+
            aggregate(expr("slice(__dsl, 2, size(__dsl))"),
              col("__dsl").getItem(0),
              (acc: Column, r: Column) => zip_with(acc, r, (a, b) => greatest(a, b)))
              .as(regs): _*)
    }
    out.select(orig.map(col): _*)
  }

  /** Fold old versions into a base snapshot and retire the superseded
    * pieces right after it publishes, keeping the newest `keep`
    * reconstruction points (the second-newest becomes the base for
    * keep = 2). `keep >= 2` BY CONTRACT: a batch whose version committed
    * but whose checkpoint offset didn't is redelivered and rebuilds from
    * the state below its own id — keep = 1 would fold/delete exactly
    * that predecessor. Also removes crash debris: uncommitted directories
    * below the newest committed id. Only this store sweeps debris — its
    * ids come from one producer, so nothing below the newest committed
    * id can still be in flight (an uncommitted directory at or after it
    * is the batch a retry will overwrite). Returns the deleted ids.
    */
  def compact(spark: SparkSession, outDir: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 2,
      s"sink-state retention needs keep >= 2 (replay-predecessor window), got $keep")
    val c = chain(outDir)
    val s = c.scan(spark)
    val bases = s.committed(BasePrefix)
    val all = (bases ++ s.committed(DeltaPrefix)).distinct.sorted
    val newest = all.lastOption
    val debris = c.prefixes.flatMap(p => s.uncommitted(p).filter(id => newest.exists(id < _))
      .map { id => ArtifactIO.delete(spark, c.path(p, id)); id })
    val layout = readLayout(spark, outDir)
    val folded =
      if (all.size < keep || layout.isEmpty) Seq.empty
      else {
        val target = all(all.size - keep)
        if (bases.contains(target) && all.head == target) Seq.empty // already folded
        else {
          ArtifactIO.delete(spark, c.path(BasePrefix, target)) // crashed previous attempt
          c.write(spark, BasePrefix, target)(layout.get.map { t =>
            (baseDir: String) => asOf(spark, outDir, t, Some(target + 1)).foreach(
              _.write.mode("overwrite").parquet(s"$baseDir/${t.name}"))
          }: _*)
          c.retire(spark, target)
        }
      }
    (debris ++ folded).distinct.sorted
  }

  private[streaming] def layoutString(tables: Seq[Table]): String =
    tables.map { t =>
      t.kind match {
        case Lww(keys) => s"${t.name}|lww|${keys.mkString(",")}|"
        case Sum(keys) => s"${t.name}|sum|${keys.mkString(",")}|"
        case SetU(keys) => s"${t.name}|set|${keys.mkString(",")}|"
        case HllMax(keys, regs) => s"${t.name}|hllmax|${keys.mkString(",")}|$regs"
      }
    }.mkString("\n")

  private[streaming] def readLayout(spark: SparkSession, outDir: String): Option[Seq[Table]] = {
    if (!ArtifactIO.exists(spark, s"$outDir/$LayoutFile")) None
    else Some(ArtifactIO.readString(spark, s"$outDir/$LayoutFile")
      .split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val parts = line.split("\\|", -1)
        val (name, kindName, keys, extra) =
          (parts(0), parts(1), parts(2).split(",").toSeq.filter(_.nonEmpty), parts(3))
        val kind = kindName match {
          case "lww" => Lww(keys)
          case "sum" => Sum(keys)
          case "set" => SetU(keys)
          case "hllmax" => HllMax(keys, extra)
          case other => sys.error(s"unknown delta-state kind '$other' in $outDir/$LayoutFile")
        }
        Table(name, kind)
      })
  }
}
