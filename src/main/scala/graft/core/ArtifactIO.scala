package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Artifact-directory IO routed through the Hadoop [[FileSystem]] API —
  * the object-store-safe replacement for `java.io.File` listing and
  * `java.nio` moves in the index/sink lifecycle code (the data-plane
  * writes always went through Spark writers; this closes the CONTROL
  * plane: version discovery, CURRENT pointers, commit markers,
  * retention deletes). `Path.getFileSystem` resolves the scheme, so the
  * same code serves `file:`, `hdfs:`, `s3a:`, `abfs:`…
  *
  * Atomicity contract, per store (documented, not assumed):
  *  - `rename` is atomic on HDFS and ABFS, and on local file systems;
  *    on S3A it is copy+delete — NOT atomic. The artifact protocol
  *    therefore never relies on rename for data: versions are written
  *    to their OWN directory and made visible by a commit MARKER file
  *    (the version-chain protocol, [[CommitLog]]), and a
  *    single-object marker/pointer write IS atomic on every listed store
  *    (S3 PUT is all-or-nothing).
  *  - The one rename kept ([[writeAtomicString]], for CURRENT pointers)
  *    is write-temp + rename, atomic everywhere but S3A; on S3 a small
  *    whole-object overwrite PUT is itself atomic, so the fallback
  *    there would be a direct overwrite — acceptable for a pointer
  *    whose content is a single version name.
  */
object ArtifactIO {
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run INDEPENDENT Spark actions concurrently and wait for all of them
    * (optimization-guide §2.6: actions are sequential only because the
    * driver calls them sequentially). A version commit that lands 2-3
    * sibling tables (delta tables, data/stats/bloom sidecars) otherwise
    * pays each job's full driver latency — plan, submit, tail, commit —
    * back to back, while the cluster sits near-idle between them; with
    * 2-3 in flight the next job's tasks back-fill the previous job's
    * tail. Failure propagates: the first exception rethrows here after
    * all futures settle, so a torn multi-table write is still caught
    * before the caller publishes its commit marker.
    */
  def inParallel(tasks: Seq[() => Unit]): Unit = { inParallelMap(tasks); () }

  /** Typed two/three-task overlaps — the q205/q221-style call sites
    * collect heterogeneous results (a scalar + two selections), and the
    * `inParallelMap[Any]` + `asInstanceOf` plumbing they used was one
    * silent miswiring away from a ClassCastException at a distance
    * (round-14 verdict item 7). Same overlap/settle semantics.
    */
  def inParallel2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val r = inParallelMap[Any](Seq(fa, fb))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def inParallel3[A, B, C](fa: () => A, fb: () => B, fc: () => C): (A, B, C) = {
    val r = inParallelMap[Any](Seq(fa, fb, fc))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  /** [[inParallel]] that returns each task's result in input order —
    * for callers whose independent jobs PRODUCE something (a collected
    * sidecar audit, a constructed method pipeline whose bounded
    * training collects run at construction time).
    */
  def inParallelMap[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      import scala.concurrent.{Await, Future}
      val fs = tasks.map(t => Future(t()))
      // settle ALL before rethrowing the first failure (a still-running
      // sibling write must not race the caller's cleanup/rethrow path)
      val settled = Future.sequence(fs.map(_.transform(scala.util.Success(_))))
      Await.result(settled, Duration.Inf).map(_.get)
    }

  /** Child names of `dir` (not paths) — empty if the dir is missing. */
  def list(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  def mkdirs(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).mkdirs(new Path(dir))

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Recursive delete (no-op if missing). */
  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new Path(path), true)

  /** One blob file per row (`<dir>/<id><ext>`), written EXECUTOR-side
    * through the Hadoop [[FileSystem]] API — the per-asset export shape
    * of a multimodal media store (q226's `files` leg). `java.nio` writes
    * only ever hit the LOCAL filesystem; routing through
    * `Path.getFileSystem` makes the same code serve `hdfs:`/`s3a:`/
    * `abfs:` — the store the actual 100 TB corpus lives on. The
    * Hadoop `Configuration` ships to executors via Spark's own
    * serializable wrapper, and each partition resolves its FileSystem
    * ONCE (connection setup amortized over the partition's blobs, the
    * same open() amortization the decode path uses). A blob create is a
    * single-object write — atomic on every listed store (S3 PUT is
    * all-or-nothing); locally a blob lands by write-temp + atomic move.
    * Either way a torn, retried or speculative task leaves a missing or
    * a complete blob, never a partial one visible to `binaryFile`
    * readers (retries overwrite idempotently).
    *
    * `blobs` must have exactly (id: LONG, bytes: BINARY) columns.
    */
  def writeBlobs(spark: SparkSession, dir: String, blobs: org.apache.spark.sql.DataFrame,
      ext: String): Unit = {
    mkdirs(spark, dir)
    val hadoopConf = org.apache.spark.sql.graft.HadoopConf.broadcast(spark)
    val scheme = Option(new Path(dir).toUri.getScheme).getOrElse("file")
    blobs.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      if (it.hasNext) {
        if (scheme == "file") {
          // Local fast path (the atomicCreate pattern): without the
          // Hadoop native library, RawLocalFileSystem.create forks a
          // `chmod` PROCESS per file — measured 6.5 ms/create vs NIO's
          // 0.03 ms (NOTES_r14.md "blob-bench"), a ~20x wall regression on
          // a 5k-asset export. Executors on a real cluster writing to a
          // shared object store never take this branch.
          // Files.write truncates then writes, so a concurrent attempt's
          // reader could see a partial blob: write a dot-named temp (file
          // indexes skip hidden names), then move it over the target
          import java.nio.file.{Files, StandardCopyOption}
          val base = java.nio.file.Paths.get(new Path(dir).toUri.getPath)
          val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
          it.foreach { r =>
            val name = s"${r.getLong(0)}$ext"
            val tmp = Files.write(base.resolve(s".$name.$attempt.tmp"), r.getAs[Array[Byte]](1))
            Files.move(tmp, base.resolve(name),
              StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          }
        } else {
          // A PRIVATE (non-cached) FileSystem instance: Path.getFileSystem
          // normally returns the process-wide cached instance (cache key is
          // scheme+authority+ugi, not conf), so setWriteChecksum(false)
          // there would silently disable .crc sidecars for every other user
          // of that filesystem in the executor JVM (ADVICE r13). Flipping
          // the cache off in a task-local conf copy scopes the flag to this
          // partition's instance, closed when the partition is done.
          val conf = new org.apache.hadoop.conf.Configuration(hadoopConf())
          conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
          val f = new Path(dir).getFileSystem(conf)
          try {
            // hdfs:/s3a:/abfs: — a blob create is one atomic object write;
            // no client-side .crc sidecar (the store checksums its PUTs)
            f.setWriteChecksum(false)
            it.foreach { r =>
              val out = f.create(new Path(dir, s"${r.getLong(0)}$ext"), true)
              try out.write(r.getAs[Array[Byte]](1))
              finally out.close()
            }
          } finally f.close()
        }
      }
    }
  }

  def readString(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Write-temp + rename pointer update (CURRENT): the rename goes
    * through [[org.apache.hadoop.fs.FileContext]] with
    * `Options.Rename.OVERWRITE` — an ATOMIC in-place replace on
    * HDFS/ABFS/local (no delete-then-rename window where the pointer
    * is missing); see the object doc for the S3A caveat.
    */
  def writeAtomicString(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val target = new Path(path)
    // thread-unique temp name: concurrent writers of SIBLING artifacts
    // (ArtifactIO.inParallel) may both land their _LAYOUT/_INDEX
    // descriptor; a shared ".name.tmp" would let one writer's rename
    // steal or clobber the other's in-flight temp
    val tmp = new Path(target.getParent,
      s".${target.getName}.${Thread.currentThread().getId}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.getUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(target),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
