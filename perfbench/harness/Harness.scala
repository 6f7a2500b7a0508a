package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.mr.MapReduce
import graft.queries.{Queries, QueriesText}
import graft.streaming.StreamingJobs

/** One benchmark run in one JVM: create the session, warm up on the
  * small twin input, time a fixed number of whole passes over the
  * workload (with `trace=1`, interleaved with as many passes with the
  * listeners recording), check outputs, and write every span and count
  * to the result file. Metrics are computed from that file by `run.py`.
  *
  * Usage: perfbench.Harness <job.properties>
  *        perfbench.Harness --oracle-sql <out.json>   (every query's oracle SQL)
  */
object Harness {
  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracle-sql") {
      Files.writeString(Paths.get(args(1)), Json(graft.SparkEntry.oracleSql))
      return
    }
    val conf = new java.util.Properties
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    def get(k: String): String = Option(conf.getProperty(k)).getOrElse(sys.error(s"missing $k"))

    val spans = new Spans(get("run_id"))
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    var setupEndUs = -1L
    var exit = 0
    val spark = spans("session", "session") { Sessions.local("perfbench", get("cores")) }
    try {
      val w: Workload = get("workload") match {
        case "mr-wordcount" => new MrWordCount(spark, spans, get)
        case "catalog-mix" => new CatalogMix(spark, spans, get)
        case "curate-stream" => new CurateStream(spark, spans, get)
        case other => sys.error(s"unknown workload $other")
      }
      spans("warmup", "warmup") { w.warmup() }
      setupEndUs = Clock.us
      // Untraced runs time `passes` passes. Traced runs alternate untraced
      // and traced passes, starting and ending untraced (2 * passes + 1),
      // so the tracing overhead is measured against passes on both sides
      // of each traced one.
      val traceRun = get("trace") == "1"
      if (traceRun) Tracer.install(spark)
      val passes = get("passes").toInt
      (0 until (if (traceRun) 2 * passes + 1 else passes)).foreach { index =>
        val traced = traceRun && index % 2 == 1
        // deliver the previous pass's events under the previous setting
        if (traceRun) org.apache.spark.perfbench.Drain(spark.sparkContext)
        Tracer.enabled = traced
        val cpu0 = cpuNs()
        spans("pass", "pass", "index" -> index, "traced" -> traced) {
          w.pass(index, traced)
          spans.note("cpu_s" -> (cpuNs() - cpu0) / 1e9)
        }
      }
      spans("check", "check") { w.check() }
    } catch {
      case t: Throwable =>
        errors += errorText(t)
        exit = 1
    } finally {
      if (Tracer.installed) org.apache.spark.perfbench.Drain(spark.sparkContext)
      val result = Map(
        "run_id" -> spans.runId,
        "cores" -> spark.sparkContext.defaultParallelism,
        "setup_end_us" -> setupEndUs,
        "vm_hwm_kb" -> vmHwmKb(),
        "errors" -> errors,
        "spans" -> spans.all,
        "jobs" -> (if (Tracer.installed) Tracer.layers.jobRecords else Nil),
        "plans" -> (if (Tracer.installed) Tracer.plans.records.toSeq else Nil))
      Files.writeString(Paths.get(get("result")), Json(result))
      spark.stop()
    }
    System.exit(exit)
  }

  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process (`VmHWM`), in kB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def errorText(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
}

/** A workload: the same calls on the twin input (warm-up), then on the
  * measured input once per pass. Every operation is one span of kind
  * `op`; a failed or wrong operation carries `ok = false`.
  */
trait Workload {
  def warmup(): Unit
  def pass(index: Int, traced: Boolean): Unit
  def check(): Unit
}

/** The paper's job four ways over a directory of `.txt` files; every result
  * is compared with the `verify.py` counts the input generator wrote.
  */
final class MrWordCount(spark: SparkSession, spans: Spans, get: String => String) extends Workload {
  private val buckets = get("cores").toInt
  private implicit val kv: Encoder[(String, Long)] = Encoders.product[(String, Long)]
  private implicit val strEnc: Encoder[String] = Encoders.STRING
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  private def wordCount(path: String, dir: String): Map[String, Long] = {
    val glob = s"$dir/*.txt"
    path match {
      case "faithful" => MapReduce.wordCount(spark.read.textFile(glob), buckets).collect().toMap
      case "combine" =>
        MapReduce.runAggregating[String, Long](spark.read.textFile(glob), MrWordCount.words, _ + _).collect().toMap
      case "wholefile" =>
        MapReduce.runWholeFiles[String, Long](spark, glob, MrWordCount.words,
          (k, it) => (k, it.sum), buckets)
          .collect().toMap
      case "df" =>
        spark.read.text(glob).select(explode(graft.text.Text.tokens(col("value"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  private def oracle(file: String): Map[String, Long] =
    Files.readAllLines(Paths.get(file)).asScala.iterator.map { l =>
      val t = l.indexOf('\t'); l.substring(0, t) -> l.substring(t + 1).toLong
    }.toMap

  private lazy val twinWant = oracle(get("twin_oracle"))
  private lazy val want = oracle(get("oracle"))

  private def run(dir: String, expected: Map[String, Long]): Unit =
    MrWordCount.paths.foreach { p =>
      spans("path", "op", "path" -> p) {
        try {
          val got = wordCount(p, dir)
          val ok = got == expected
          spans.note("ok" -> ok, "distinct_words" -> got.size)
          if (!ok) spans.note("error" -> (s"${got.size} words vs ${expected.size} expected, " +
            s"${(got.keySet ++ expected.keySet).count(k => got.get(k) != expected.get(k))} differ"))
        } catch { case t: Throwable => spans.note("ok" -> false, "error" -> Harness.errorText(t)) }
      }
    }

  def warmup(): Unit = run(get("twin"), twinWant)
  def pass(index: Int, traced: Boolean): Unit = run(get("corpus"), want)
  def check(): Unit = ()
}

object MrWordCount {
  val paths = Seq("faithful", "combine", "wholefile", "df")

  /** The map function: the reference worker's case-sensitive `[A-Za-z]`
    * runs, one (word, 1) per occurrence. On the companion object so the
    * closure Spark ships carries no workload state.
    */
  def words(text: String): Seq[(String, Long)] =
    text.replaceAll("[^A-Za-z]", " ").split("\\s+").toSeq.filter(_.nonEmpty).map(w => (w, 1L))
}

/** A seeded sample of catalog queries, each timed as build (the
  * `Queries.all(name)` call with any eager jobs), plan (forcing the
  * executed plan) and execute (collecting the result to the driver, so
  * the result that was timed is the one checked, with no second run).
  */
final class CatalogMix(spark: SparkSession, spans: Spans, get: String => String) extends Workload {
  private val names = get("queries") match {
    case "*" => Queries.all.keys.toSeq.sorted
    case qs => qs.split(",").toSeq
  }

  /** The `Queries*` object that defines a query, found by reflection so
    * the mapping survives changes to the registry's layout.
    */
  private val family: Map[String, String] = names.map { q =>
    q -> CatalogMix.families.find { f =>
      scala.util.Try(Class.forName(s"graft.queries.Queries${f.capitalize}$$").getMethods
        .exists(_.getName == q)).getOrElse(false)
    }.getOrElse("other")
  }.toMap

  // the latest pass's result of each query, written out by the check
  private val results = scala.collection.mutable.Map[String, DataFrame]()

  private def run(dir: String, keep: Boolean): Unit = names.foreach { q =>
    spans("query", "op", "query" -> q, "family" -> family(q)) {
      try {
        val df = spans("build", "build") { Queries.all(q)(spark, dir) }
        spans("plan", "plan") { df.queryExecution.executedPlan }
        val rows = spans("execute", "execute") { df.collect() }
        if (keep) results(q) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        spans.note("ok" -> true, "rows" -> rows.length)
      } catch { case t: Throwable => spans.note("ok" -> false, "error" -> Harness.errorText(t)) }
    }
    spark.catalog.clearCache()
  }

  def warmup(): Unit = run(get("twin"), keep = false)
  def pass(index: Int, traced: Boolean): Unit = run(get("data"), keep = true)

  /** Writes each query's collected result (one file, row order kept)
    * with the oracle SQL beside it; the comparison runs in `run.py`.
    */
  def check(): Unit = {
    val out = get("check_out")
    results.foreach { case (q, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q") }
    val oracle = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(names.flatMap(q => oracle.get(q).map(q -> _)).toMap))
  }
}

object CatalogMix {
  val families = Seq("text", "relational", "dedup", "sim", "pipeline", "sources", "analytics", "binary")
}

/** Online curation as a closed loop with one client: each micro-batch
  * goes through `curateStream` after the previous one has committed,
  * redelivered batches repeat their id, `compactVersions` runs every few
  * batches, and the pass ends with `recleanCurated` and one
  * `curatedDocs` read. The check compares the final table with the
  * one-shot clean + gate over the delivered corpus.
  */
final class CurateStream(spark: SparkSession, spans: Spans, get: String => String) extends Workload {
  private val gate = QueriesText.repetitionKeep _
  private var lastTable: Array[(Long, String)] = Array.empty

  private def batch(dir: String, b: Int): DataFrame = spark.read.parquet(s"$dir/b$b.parquet")

  private def stream(dir: String, plan: Seq[Int], compactEvery: Int, out: String,
      traced: Boolean): Unit = {
    deleteTree(new File(out))
    val seen = scala.collection.mutable.Set[Int]()
    var files = Map.empty[String, Long]
    plan.zipWithIndex.foreach { case (b, i) =>
      spans("batch", "op", "batch" -> b, "index" -> i, "redelivery" -> seen.contains(b)) {
        try {
          val kept = StreamingJobs.curateStream(out, gate = gate)(batch(dir, b), b.toLong)
          spans.note("ok" -> true, "curated" -> kept)
        } catch { case t: Throwable => spans.note("ok" -> false, "error" -> Harness.errorText(t)) }
        if (traced) {
          val now = listFiles(new File(out))
          spans.note("files_new" -> now.keySet.diff(files.keySet).size,
            "bytes_new" -> now.collect { case (f, n) if files.get(f) != Some(n) => n }.sum)
          files = now
        }
      }
      seen += b
      if ((i + 1) % compactEvery == 0)
        spans("compact", "compact") { StreamingJobs.compactVersions(spark, s"$out/boiler") }
    }
    spans("reclean", "reclean") { StreamingJobs.recleanCurated(spark, out, gate = gate) }
    lastTable = spans("read", "read") {
      StreamingJobs.curatedDocs(spark, out).select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
    }
    val boiler = new File(out, "boiler").listFiles()
    spans.note("curated" -> lastTable.length, "chain_depth" -> Option(boiler).map(_.count(f => f.isDirectory &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))).getOrElse(0),
      "store_bytes" -> listFiles(new File(out)).values.sum)
  }

  private def plan(key: String) = get(key).split(",").toSeq.map(_.toInt)

  def warmup(): Unit = stream(get("twin"), plan("twin_plan"), get("compact_every").toInt,
    s"${get("work")}/curate_twin", traced = false)

  def pass(index: Int, traced: Boolean): Unit =
    spans("stream", "stream") {
      stream(get("batches"), plan("plan"), get("compact_every").toInt,
        s"${get("work")}/curate_$index", traced)
    }

  def check(): Unit = {
    val dir = get("batches")
    val docs = plan("plan").distinct.map(batch(dir, _).select("doc_id", "text")).reduce(_ union _)
    val oneShot = gate(graft.dedup.Dedup.removeBoilerplate(docs, 5, 3)
        .select(col("doc_id"), col("clean_text").as("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val dupIds = lastTable.length - lastTable.map(_._1).distinct.length
    val ok = dupIds == 0 && lastTable.toSet == oneShot
    spans.note("ok" -> ok, "curated" -> lastTable.length, "one_shot" -> oneShot.size,
      "duplicate_ids" -> dupIds)
  }

  private def listFiles(root: File): Map[String, Long] =
    if (!root.exists()) Map.empty
    else Files.walk(root.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
