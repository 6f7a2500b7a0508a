package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds: epoch-aligned so spans line up with
  * the epoch-millisecond times Spark puts on listener events, and
  * monotonic within the process so durations never go negative.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Int, name: String, kind: String, parent: Int, start: Long,
    var end: Long, attrs: mutable.LinkedHashMap[String, Any])

/** In-memory span log for one run. Spans are opened and closed on the
  * benchmark's own thread, around its calls into the program, so a
  * stack gives every span its parent.
  */
final class Spans(val runId: String) {
  val all = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def apply[T](name: String, kind: String, attrs: (String, Any)*)(body: => T): T = {
    val s = Span(all.size, name, kind, stack.headOption.map(_.id).getOrElse(-1), Clock.us, -1L,
      mutable.LinkedHashMap(attrs: _*))
    all += s
    stack = s :: stack
    try body
    finally {
      s.end = Clock.us
      stack = stack.tail
    }
  }

  /** Attributes on the innermost open span. */
  def note(kv: (String, Any)*): Unit = stack.head.attrs ++= kv
}

/** Per-stage task aggregates, filled from task-end events. */
final class StageAgg {
  var tasks, failed = 0L
  var runMs, cpuNs, gcMs, swBytes, swRecords, srBytes, spill, peakMem = 0L
}

/** Job, stage and task counts at the SparkContext. Jobs keep their
  * submission and completion times so the analysis can attribute each to
  * the span whose window holds its submission: `ArtifactIO.inParallel*`
  * runs actions on pool threads that inherit no job group, so time
  * windows are the only attribution that sees every job.
  */
final class LayerListener extends SparkListener {
  final case class Job(id: Int, submitMs: Long, stageIds: Seq[Int], var endMs: Long = -1L,
      var ok: Boolean = false)
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, StageAgg]()
  // a stage belongs to the first job that lists it; later jobs that list
  // it again skip it (its shuffle output is reused)
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracer.enabled) synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Tracer.enabled) synchronized {
    jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.ok = e.jobResult == JobSucceeded }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Tracer.enabled) synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.swRecords += m.shuffleWriteMetrics.recordsWritten
      s.srBytes += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  /** One record per job with the task aggregates of the stages it ran. */
  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      val own = j.stageIds.filter(s => stageJob.get(s).contains(j.id)).flatMap(stages.get)
      def sum(f: StageAgg => Long) = own.map(f).sum
      Map("id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "ok" -> j.ok,
        "stages" -> own.size,
        "min_stage_tasks" -> (if (own.isEmpty) 0L else own.map(_.tasks).min),
        "tasks" -> sum(_.tasks), "tasks_failed" -> sum(_.failed),
        "task_ms" -> sum(_.runMs), "cpu_ns" -> sum(_.cpuNs), "gc_ms" -> sum(_.gcMs),
        "shuffle_write_bytes" -> sum(_.swBytes), "shuffle_records" -> sum(_.swRecords),
        "shuffle_read_bytes" -> sum(_.srBytes), "spill_bytes" -> sum(_.spill),
        "peak_exec_mem_bytes" -> (if (own.isEmpty) 0L else own.map(_.peakMem).max))
    }
  }
}

/** Catalyst phase times of every query execution that ran an action. */
final class PlanListener extends QueryExecutionListener {
  val records = mutable.ArrayBuffer[Map[String, Any]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = if (Tracer.enabled) synchronized {
    records += PlanListener.phases(qe.tracker)
  }
}

object PlanListener {
  /** Phase durations in ms, keyed by the tracker's phase names, plus the
    * earliest phase start (epoch ms) for time-window attribution.
    */
  def phases(t: QueryPlanningTracker): Map[String, Any] = {
    val p = t.phases
    val names = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING)
    val start = if (p.isEmpty) 0L else p.values.map(_.startTimeMs).min
    Map("start_ms" -> start) ++ names.map(n => n -> p.get(n).map(_.durationMs).getOrElse(0L))
  }
}

/** Installs the two listeners on a session once: a second call on the
  * same SparkContext is a no-op (the guard idiom of an extension's
  * `setup(session)`), so re-entry cannot double-count events. Events
  * are recorded only while `enabled` is set.
  */
object Tracer {
  private var installedOn: Option[SparkContext] = None
  @volatile var enabled = false
  val layers = new LayerListener
  val plans = new PlanListener

  def install(spark: SparkSession): Unit = synchronized {
    if (!installedOn.contains(spark.sparkContext)) {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(plans)
      installedOn = Some(spark.sparkContext)
    }
  }

  def installed: Boolean = synchronized(installedOn.isDefined)
}

/** Minimal JSON encoder for the result file (maps, sequences, strings,
  * numbers, booleans); spans encode as maps.
  */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case s: Span =>
      write(Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "start_us" -> s.start, "end_us" -> s.end, "attrs" -> s.attrs), sb)
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(k.toString, sb)
        sb += ':'
        write(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(x, sb) }
      sb += ']'
    case other => str(other.toString, sb)
  }

  private def str(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
