package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Reference-equivalent streaming pipeline (SURVEY.md §2-A, §3.4).
  *
  * The reference (mozilla-services/cloudtrail-streamer, a Go Lambda —
  * SURVEY.md §0; /root/reference is empty so loci are
  * `[upstream: main.go — unverified]`) streams CloudTrail log files
  * from S3 to Kinesis: decode trigger → fetch object → gunzip → parse
  * `{"Records":[…]}` → fan out records → batched PutRecords (≤500)
  * with partial-failure retry. This module re-expresses that as
  * Structured Streaming:
  *
  *  - trigger decode (A1) → file-source listing + offset log;
  *  - S3 GET + gunzip (A2–A3) → executor-side text source (`.gz`
  *    decompressed transparently by the Hadoop codec; gzip is
  *    non-splittable, so a file is never split across tasks, and the
  *    source packs small files into one task);
  *  - envelope parse (A4) → [[decodeEnvelopes]]: `from_json` with an
  *    explicit [[envelopeSchema]] (PERMISSIVE; bad JSON → null →
  *    dead-letter, mirroring the reference's log-and-skip);
  *  - record fan-out (A5) → `inline`;
  *  - projection / partition key (A6–A7) → `to_json(struct(...))` +
  *    `eventID` key;
  *  - batched sink + retry (A8–A9) → [[RecordSink]] via
  *    `foreachBatch` + [[deliver]] (`foreachPartition` +
  *    [[drainPartition]]: `grouped(500)` and bounded exponential
  *    retry), the same path as the batch `format("cloudtrail-sink")`;
  *  - redelivery dedup → [[dedup]]: `dropDuplicatesWithinWatermark`
  *    on `eventID`, or on a content hash for a record without one.
  *
  * The batch `spark.read.format("cloudtrail")` is [[decodeEnvelopes]]
  * over `spark.read.text`, so stream and batch share one decoder.
  *
  * [[run]] is the one entry from a landing dir to a sink, configured
  * by a [[PipelineConfig]].
  *
  * Scale: parallelism = files × partitions (the reference's "many
  * Lambda instances" becomes executor tasks); state (dedup,
  * sessionization) is keyed + watermarked so state stores stay
  * bounded; `maxFilesPerTrigger` is the admission control knob. [[run]]
  * sizes its own stream: one state partition per core, RocksDB state
  * committed as changelog files, and a trigger every
  * [[TriggerInterval]], so the fixed cost of a micro-batch (one state
  * store commit per partition) is paid per core and at most once a
  * second, however many files land.
  */
object CloudTrailPipeline {

  /** Stable CloudTrail envelope (AWS-published record contents —
    * `[aws-public]`, FIXTURES.md §B). Open-ended payloads
    * (`requestParameters`, `responseElements`) stay raw JSON strings:
    * pass-through semantics, no 100 TB schema-inference scan. */
  val recordSchema: StructType = StructType(Seq(
    StructField("eventVersion", StringType),
    StructField("eventTime", TimestampType),
    StructField("eventSource", StringType),
    StructField("eventName", StringType),
    StructField("awsRegion", StringType),
    StructField("sourceIPAddress", StringType),
    StructField("userAgent", StringType),
    StructField("userIdentity", StructType(Seq(
      StructField("type", StringType),
      StructField("principalId", StringType),
      StructField("arn", StringType),
      StructField("accountId", StringType),
      StructField("accessKeyId", StringType)))),
    StructField("requestParameters", StringType),
    StructField("responseElements", StringType),
    StructField("requestID", StringType),
    StructField("eventID", StringType),
    StructField("eventType", StringType),
    StructField("recipientAccountId", StringType),
    StructField("readOnly", BooleanType),
    StructField("errorCode", StringType),
    StructField("errorMessage", StringType)))

  val envelopeSchema: StructType =
    StructType(Seq(StructField("Records", ArrayType(recordSchema))))

  /** A4–A6: one JSON envelope line → N typed records. `inline` emits
    * nothing for a null envelope (malformed JSON) or a null `Records`;
    * [[deadLetters]] routes those lines out rather than poisoning the
    * stream (A10). A field that does not convert (a non-ISO
    * `eventTime`) is null in its record alone.
    *
    * Each line is parsed once. A filter before the fan-out would have
    * the optimizer copy `from_json` into each predicate, and so would
    * `explode` + `r.*` under a query that reads only some fields: the
    * optimizer moves the field access into `explode`'s input and infers
    * a not-null, non-empty filter on it (5 parses a line for
    * `select("eventName")`). `inline` is left alone by both rules. */
  def decodeEnvelopes(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("value"), envelopeSchema,
        Map("mode" -> "PERMISSIVE")).as("env"))
      .select(inline(col("env.Records")))

  // -------------------------------------------------------------
  // A1 trigger decode — BOTH notification shapes (SURVEY.md §3.2).
  // The upstream handler receives either a raw S3 event notification
  // or an SNS notification whose `Message` field is the STRINGIFIED
  // S3-event JSON (CloudTrail→SNS fan-out deployments); it detects
  // the SNS wrapper and unwraps before the common path.
  // -------------------------------------------------------------

  /** S3 event-notification shape (AWS-published; only the fields the
    * trigger path consumes). */
  val s3EventSchema: StructType = StructType(Seq(
    StructField("Records", ArrayType(StructType(Seq(
      StructField("eventSource", StringType),
      StructField("eventName", StringType),
      StructField("s3", StructType(Seq(
        StructField("bucket", StructType(Seq(
          StructField("name", StringType)))),
        StructField("object", StructType(Seq(
          StructField("key", StringType),
          StructField("size", LongType)))))))))))))

  /** SNS notification wrapper (`Type: "Notification"`, stringified
    * payload in `Message`). */
  val snsSchema: StructType = StructType(Seq(
    StructField("Type", StringType),
    StructField("Message", StringType)))

  /** A1: trigger messages → (bucket, key) fetch targets. Accepts both
    * shapes on one stream: an SNS-wrapped message is detected by
    * `Type == "Notification"` with a non-null `Message` and unwrapped
    * to its inner S3-event JSON; a bare S3 event passes through.
    * Non-S3 records (wrong eventSource) and undecodable messages drop
    * out via the null-propagating filters — the reference's
    * log-and-skip. */
  def decodeTrigger(raw: DataFrame): DataFrame = {
    val sns = from_json(col("value"), snsSchema)
    raw
      .select(
        when(sns.getField("Type") === "Notification" &&
            sns.getField("Message").isNotNull,
          sns.getField("Message"))
          .otherwise(col("value")).as("s3_json"))
      .select(from_json(col("s3_json"), s3EventSchema,
        Map("mode" -> "PERMISSIVE")).as("ev"))
      .filter(col("ev").isNotNull && col("ev.Records").isNotNull)
      .select(explode(col("ev.Records")).as("r"))
      .filter(col("r.eventSource") === "aws:s3")
      .select(col("r.s3.bucket.name").as("bucket"),
        col("r.s3.object.key").as("key"))
      .filter(col("bucket").isNotNull && col("key").isNotNull)
  }

  /** A10: the complement of [[decodeEnvelopes]] — undecodable lines. */
  def deadLetters(raw: DataFrame): DataFrame =
    raw
      .select(col("value"),
        from_json(col("value"), envelopeSchema).as("env"))
      .filter(col("env").isNull || col("env.Records").isNull)
      .select(col("value").as("bad_record"))

  /** Streaming dedup of CloudTrail redeliveries on the natural key
    * (`eventID`), state bounded by the watermark. A record without an
    * `eventID` is keyed by a hash of its whole content instead, so
    * distinct such records all pass and only exact copies collapse
    * (`dropDuplicatesWithinWatermark` on a null key would keep the
    * first of them alone). The key column holds the `eventID` itself
    * when there is one, so a checkpoint keyed on `eventID` alone
    * restarts under this key and still drops its redeliveries. */
  def dedup(records: DataFrame, watermark: String = "10 minutes"): DataFrame =
    records
      .withWatermark("eventTime", watermark)
      .withColumn("__dedup_key", coalesce(col("eventID"),
        sha2(to_json(struct(records.columns.toIndexedSeq.map(col): _*)), 256)))
      .dropDuplicatesWithinWatermark("__dedup_key")
      .drop("__dedup_key")

  /** #47-compatible tumbling counts per eventSource with late-data
    * drop — identical expression to the batch-graded q_win_tumbling. */
  def tumblingCounts(records: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    records
      .withWatermark("eventTime", watermark)
      .groupBy(window(col("eventTime"), "1 hour").as("w"), col("eventSource"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("eventSource"), col("n"))

  /** A6–A7: serialize each record to its own JSON bytes + partition
    * key — the reference's per-record Kinesis entry. */
  def toSinkEntries(records: DataFrame): DataFrame =
    records.select(
      coalesce(col("eventID"), lit("no-id")).as("partitionKey"),
      to_json(struct(records.columns.toIndexedSeq.map(col): _*)).as("data"))

  /** Sink abstraction over Kinesis `PutRecords` semantics (no
    * connector exists offline — SURVEY.md §8.4): one call receives
    * ≤ [[RecordSink.MaxBatch]] entries and reports per-record
    * failures, like `FailedRecordCount`. Implementations must be
    * idempotent per (partitionKey, data) for exactly-once via
    * micro-batch replay. */
  trait RecordSink extends Serializable {
    /** @return indices within `batch` that failed (to be retried). */
    def put(batch: Seq[(String, String)]): Seq[Int]
  }

  object RecordSink { val MaxBatch = 500 }

  /** A8–A9: drain a partition through the sink in ≤500-record calls,
    * retrying the failed subset with bounded backoff — the
    * reference's partial-failure loop. Throws when retries exhaust,
    * so the task (and micro-batch) fails and replays: at-least-once
    * delivery into an idempotent sink = effectively-once. */
  def drainPartition(rows: Iterator[(String, String)], sink: RecordSink,
      maxRetries: Int = 3, backoffMs: Long = 50): Long = {
    var sent = 0L
    rows.grouped(RecordSink.MaxBatch).foreach { batch =>
      var pending = batch.toSeq
      var attempt = 0
      while (pending.nonEmpty) {
        val failed = sink.put(pending)
        sent += pending.size - failed.size
        pending = failed.map(pending)
        if (pending.nonEmpty) {
          attempt += 1
          if (attempt > maxRetries)
            throw new RuntimeException(
              s"sink failed ${pending.size} records after $maxRetries retries")
          Thread.sleep(backoffMs * (1L << (attempt - 1)))
        }
      }
    }
    sent
  }

  /** A8–A9 over a frame of `(partitionKey, data)` entries: each
    * partition drains through [[drainPartition]]. The stream's
    * `foreachBatch` and `format("cloudtrail-sink")` both deliver here. */
  def deliver(entries: DataFrame, sink: RecordSink): Unit =
    entries.foreachPartition { it: Iterator[Row] =>
      drainPartition(it.map(r => (r.getString(0), r.getString(1))), sink)
      ()
    }

  /** The pipeline's trigger. CloudTrail publishes a log file about
    * every 5 minutes per account and region (`[aws-public]`), so one
    * second adds at most a second to records already minutes old, and
    * a trigger's fixed cost is paid once a second instead of once per
    * few landed files. */
  val TriggerInterval: Trigger = Trigger.ProcessingTime("1 second")

  /** The confs [[run]] sets for its own query: one state partition per
    * core, and the RocksDB state store ([[PipelineConfig.RocksDbProvider]])
    * committing one changelog file per partition instead of uploading a
    * snapshot. A checkpoint that already exists keeps the partition
    * count and provider stored in its offset log. */
  private def queryConfs(spark: SparkSession): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" ->
      spark.sparkContext.defaultParallelism.toString,
    "spark.sql.streaming.stateStore.providerClass" ->
      PipelineConfig.RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Full pipeline: gzip JSON landing dir → decode → dedup →
    * batched/retrying sink via foreachBatch, checkpointed, triggered
    * every [[TriggerInterval]], admitting at most
    * `config.maxFilesPerTrigger` files a trigger. This is the
    * reference's one path from a landed file to Kinesis. Kinesis routes
    * a record to its shard by partition key, so the sink takes the
    * dedup output's partitions (one per core) as they come, whatever
    * the shard count.
    *
    * A landed file Spark cannot read (a truncated gzip, bytes that are
    * not gzip under a `.gz` name) is logged with its path and skipped
    * (`ignoreCorruptFiles`), as the reference logs and skips a bad
    * object, so it cannot wedge the stream. The trade-off: the skip is
    * for good, because the file's offset commits with the batch, and
    * nothing yet counts or records the skipped files.
    *
    * The query runs on the caller's session, so listeners on
    * `spark.streams` see its progress, but with [[queryConfs]]: `run`
    * sets them, starts the query (which clones the session, confs
    * included) and restores the caller's values, unsetting those the
    * caller had not set. The caller's later queries keep their own
    * shuffle width and state store. */
  def run(spark: SparkSession, config: PipelineConfig,
      sink: RecordSink): StreamingQuery = {
    val raw = spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", config.maxFilesPerTrigger)
      .option("ignoreCorruptFiles", "true")
      .load(config.inPath)
    val writer = toSinkEntries(dedup(decodeEnvelopes(raw))).writeStream
      .outputMode(OutputMode.Append)
      .trigger(TriggerInterval)
      .option("checkpointLocation", config.checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => deliver(batch, sink) }
    val confs = queryConfs(spark)
    val callers = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try writer.start()
    finally confs.foreach { case (k, _) =>
      callers.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  // -------------------------------------------------------------
  // Custom stateful operator: per-user session state machine
  // (SURVEY.md §2-B "stateful sessionization" ✗ row).
  // -------------------------------------------------------------

  case class UserEvent(userId: Long, eventType: String, ts: java.sql.Timestamp)
  case class SessionState(nEvents: Long, start: Long, lastTs: Long)
  case class SessionOut(userId: Long, nEvents: Long, durationMs: Long)

  private def summary(userId: Long, s: SessionState): SessionOut =
    SessionOut(userId, s.nEvents, s.lastTs - s.start)

  /** flatMapGroupsWithState session machine: emits a session summary
    * when a user is silent past the gap. An event less than `gapMs`
    * after the last one extends the open session; a longer gap closes
    * it and opens a new one. State is per-key and WATERMARK-bounded
    * (EventTimeTimeout): sessions close when event time — not wall
    * clock — passes lastTs+gap, which is replay-safe and deterministic
    * at 100 TB. (ProcessingTimeTimeout is a trap here: its
    * `shouldRunAnotherBatch` is unconditionally true, so the
    * micro-batch engine spins batches nonstop even when idle.) The
    * state store is the session's: HDFS-backed by default, RocksDB
    * when the caller sets it. */
  def sessionize(events: Dataset[UserEvent],
      gapMs: Long = 5 * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 second")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(summary(userId, s))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            // No new rows (e.g. a timeout-check batch for another key):
            // do NOT touch state — re-arming the timeout here would
            // push it out forever and busy-loop the micro-batch engine.
            if (sorted.isEmpty) Iterator.empty
            else {
              // the sessions the new events close, oldest first, and
              // the session open after the last event
              val (closed, cur) =
                sorted.foldLeft((Vector.empty[SessionState], state.getOption)) {
                  case ((closed, Some(s)), e) if e.ts.getTime - s.lastTs < gapMs =>
                    (closed, Some(s.copy(nEvents = s.nEvents + 1, lastTs = e.ts.getTime)))
                  case ((closed, cur), e) =>
                    val t = e.ts.getTime
                    (closed ++ cur, Some(SessionState(1, t, t)))
                }
              cur.foreach { s =>
                state.update(s)
                // must be strictly past the current watermark
                state.setTimeoutTimestamp(
                  math.max(state.getCurrentWatermarkMs() + 1, s.lastTs + gapMs))
              }
              closed.iterator.map(summary(userId, _))
            }
          }
      }
  }
}
