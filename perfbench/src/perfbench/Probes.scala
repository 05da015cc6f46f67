package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-level readings: CPU time and peak resident set. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** VmHWM of this process in MB (Linux); NaN where unavailable. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: java.io.IOException => Double.NaN }
}

/** Task metrics summed over every finished task (SparkListener). */
final class TaskProbe extends SparkListener {
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  final case class Snap(tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long)

  def snap(): Snap = Snap(tasks.get, runMs.get, cpuNs.get, gcMs.get,
    shuffleBytes.get, spillBytes.get)

  /** The `spark.*` metrics between two snapshots over `wallS` seconds. */
  def metrics(a: Snap, b: Snap, wallS: Double, cores: Int): Seq[Metric] = Seq(
    Metric("spark.tasks", (b.tasks - a.tasks).toDouble, "count"),
    Metric("spark.task_run_s", (b.runMs - a.runMs) / 1e3, "s"),
    Metric("spark.task_cpu_s", (b.cpuNs - a.cpuNs) / 1e9, "s"),
    Metric("spark.gc_s", (b.gcMs - a.gcMs) / 1e3, "s"),
    Metric("spark.shuffle_mb", (b.shuffleBytes - a.shuffleBytes) / 1e6, "MB"),
    Metric("spark.spill_mb", (b.spillBytes - a.spillBytes) / 1e6, "MB"),
    Metric("spark.core_util",
      if (wallS > 0) (b.runMs - a.runMs) / 1e3 / (wallS * cores) else 0.0, "ratio"))
}

object TaskProbe {
  def attach(sc: SparkContext): TaskProbe = {
    val p = new TaskProbe
    sc.addSparkListener(p)
    p
  }
}

/** One micro-batch as the progress listener saw it. */
final case class Trigger(batchId: Long, rows: Long, startMs: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long,
    stateCommitMs: Long, lateDropped: Long, dupDropped: Long) {
  def ms(phase: String): Long = durations.getOrElse(phase, 0L)
}

/** StreamingQueryListener progress, kept per batch. */
final class ProgressProbe extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ops.map(f).sum
    triggers.add(Trigger(p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      sum(_.numRowsTotal), sum(_.memoryUsedBytes), sum(_.commitTimeMs),
      sum(_.numRowsDroppedByWatermark),
      sum(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.longValue).getOrElse(0L))))
    ()
  }

  def all: Seq[Trigger] = triggers.asScala.toSeq.sortBy(_.batchId)
}

/** QueryPlanningTracker phases of every finished query execution,
  * plus whole-stage codegen compile time and class count. */
final class PlanProbe extends QueryExecutionListener {
  val phasesMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** (start, end) per phase of the most recent execution, for spans. */
  @volatile var last: Map[String, (Long, Long)] = Map.empty

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    ph.foreach { case (k, s) =>
      phasesMs.computeIfAbsent(k, _ => new AtomicLong).addAndGet(s.durationMs)
    }
    last = ph.map { case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }
  }

  final case class Snap(analysisMs: Long, optimizationMs: Long, planningMs: Long,
      codegenNs: Long, classes: Long)

  def snap(): Snap = {
    def ms(k: String) = Option(phasesMs.get(k)).map(_.get).getOrElse(0L)
    Snap(ms("analysis"), ms("optimization"), ms("planning"),
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }

  /** `plans.*` between two snapshots, divided over `passes`. */
  def metrics(a: Snap, b: Snap, suffix: String, passes: Int): Seq[Metric] = {
    val n = math.max(1, passes).toDouble
    Seq(
      Metric(s"plans.analysis_s_$suffix", (b.analysisMs - a.analysisMs) / 1e3 / n, "s"),
      Metric(s"plans.optimization_s_$suffix", (b.optimizationMs - a.optimizationMs) / 1e3 / n, "s"),
      Metric(s"plans.planning_s_$suffix", (b.planningMs - a.planningMs) / 1e3 / n, "s"),
      Metric(s"plans.codegen_compile_s_$suffix", (b.codegenNs - a.codegenNs) / 1e9 / n, "s"),
      Metric(s"plans.codegen_classes_$suffix", (b.classes - a.classes) / n, "count"))
  }
}

object PlanProbe {
  def attach(spark: SparkSession): PlanProbe = {
    val p = new PlanProbe
    spark.listenerManager.register(p)
    p
  }

  val Names: Seq[(String, String)] = for {
    s <- Seq("cold", "warm")
    (n, u) <- Seq("analysis_s" -> "s", "optimization_s" -> "s",
      "planning_s" -> "s", "codegen_compile_s" -> "s", "codegen_classes" -> "count")
  } yield (s"plans.${n}_$s", u)
}

/** A named reading with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One traced interval. `trace` groups the spans of one file, query
  * or trigger; `parent` is the id of the enclosing span, or empty. */
final case class Span(id: String, trace: String, name: String, parent: String,
    startNs: Long, endNs: Long)

/** In-memory span store, written as JSON when the run ends. Spans use
  * System.nanoTime; epoch-ms phase times are converted with one
  * offset taken at construction. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nextId(): String = s"s${ids.incrementAndGet()}"

  def add(trace: String, name: String, parent: String, startNs: Long,
      endNs: Long): String = {
    val id = nextId()
    spans.add(Span(id, trace, name, parent, startNs, endNs))
    id
  }

  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** Time `body` as a span; returns its result. */
  def span[T](trace: String, name: String, parent: String = "")(body: String => T): T = {
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(id, trace, name, parent, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Span counts per layer (the part of the name before the first ':'). */
  def layers: Map[String, Int] = all.groupBy(_.name.takeWhile(_ != ':')).map {
    case (k, v) => k -> v.size }

  def write(path: String): Unit = {
    val t0 = if (spans.isEmpty) 0L else all.head.startNs
    val body = all.map { s =>
      s"""{"id":"${s.id}","trace":${Json.str(s.trace)},"name":${Json.str(s.name)},""" +
        s""""parent":${Json.str(s.parent)},"start_ms":${Json.num((s.startNs - t0) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0) / 1e6)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
    ()
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision number; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
