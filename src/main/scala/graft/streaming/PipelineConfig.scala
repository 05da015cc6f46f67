package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.Json.quote

/** Typed pipeline configuration (reference operator A12: the Go
  * Lambda read `CT_*` environment variables for stream name, region
  * and debug — SURVEY.md §2-A). Only what [[CloudTrailPipeline.run]]
  * reads is kept: the sink is passed to `run`, and the dedup watermark
  * is `dedup`'s constant. One immutable read at startup; no config
  * lookups on the hot path. `maxFilesPerTrigger` is the admission
  * cap: at most that many landed files per micro-batch. */
case class PipelineConfig(
    inPath: String,
    checkpoint: String,
    maxFilesPerTrigger: Int = 100)

object PipelineConfig {

  /** The state-store provider [[CloudTrailPipeline.run]] sets for its
    * own query (with changelog checkpointing, and not on the caller's
    * session): state larger than the executor heap spills to local disk
    * instead of failing the executor. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Environment surface mirroring the reference's `CT_*` family;
    * other keys are ignored. */
  def fromEnv(env: Map[String, String] = sys.env): PipelineConfig = {
    val config = PipelineConfig(
      inPath = env.getOrElse("GRAFT_CT_IN_PATH", "/tmp/cloudtrail/landing"),
      checkpoint = env.getOrElse("GRAFT_CT_CHECKPOINT", "/tmp/cloudtrail/chk"))
    env.get("GRAFT_CT_MAX_FILES_PER_TRIGGER")
      .fold(config)(n => config.copy(maxFilesPerTrigger = n.toInt))
  }
}

/** Structured progress logging (reference operator A11: mozlog-format
  * JSON summaries of files processed / record counts / errors —
  * SURVEY.md §2-A). Emits one JSON line per micro-batch with the
  * fields an operator dashboards at scale: rows in, processing rate,
  * batch duration and, over the stateful operators, state rows, state
  * partitions, state commit time, duplicates dropped and rows dropped
  * as late by the watermark. */
class JsonProgressListener(log: String => Unit = Console.err.println)
    extends StreamingQueryListener {

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    log(s"""{"type":"stream.start","id":"${e.id}","name":${quote(e.name)}}""")

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    def sum(f: StateOperatorProgress => Long) = ops.map(f).sum
    val dupDropped = sum(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
      .fold(0L)(_.longValue))
    log(s"""{"type":"stream.progress","id":"${p.id}","batch":${p.batchId},""" +
      s""""rows":${p.numInputRows},"rowsPerSec":${safe(p.processedRowsPerSecond)},""" +
      s""""durationMs":${p.durationMs.getOrDefault("triggerExecution", -1L)},""" +
      s""""stateRows":${sum(_.numRowsTotal)},""" +
      s""""statePartitions":${(0L +: ops.map(_.numShufflePartitions)).max},""" +
      s""""stateCommitMs":${sum(_.commitTimeMs)},""" +
      s""""dupDropped":$dupDropped,""" +
      s""""lateDropped":${sum(_.numRowsDroppedByWatermark)}}""")
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    log(s"""{"type":"stream.stop","id":"${e.id}","error":${quote(e.exception.orNull)}}""")

  private def safe(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString
}

object JsonProgressListener {
  /** Attach a listener to the session; returns it for removal. */
  def attach(spark: SparkSession,
      log: String => Unit = Console.err.println): JsonProgressListener = {
    val l = new JsonProgressListener(log)
    spark.streams.addListener(l)
    l
  }
}
