package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{CloudTrailPipeline, PipelineConfig}

/** The two ingest workloads over `CloudTrailPipeline.run`.
  *
  * ct-backlog: a pre-landed backlog of mid-size files drained at full
  * speed into a zero-latency counting sink. The first trigger's files
  * land first and that trigger is set-up; the rest land at once and
  * the drain of them is timed. Backlog size scales with --seconds.
  *
  * ct-live: open loop. After the first trigger and two warm-up
  * bursts, one generator thread lands small files on a fixed schedule
  * (a short untimed ramp, then rate files/s for --seconds) by atomic
  * rename into a growing landing directory, whatever the pipeline
  * does; the sink is Kinesis-shaped (per-call latency, one shard's
  * write quota with keyed partial failures). */
object Ingest {

  /** ct-backlog: files per trigger and the backlog's records. */
  val BacklogFilesPerTrigger = 8
  val BacklogRecLo = 300
  val BacklogRecHi = 900
  /** Backlog files per --seconds: sized so the seed code drains the
    * backlog in about --seconds on a 4-core host. */
  val BacklogFilesPerSecond = 3.0

  /** ct-live: the offered rate (a third to two thirds of what the
    * seed code sustains for this file shape, by host load; see
    * perfbench/CONTRACT.md) and the file shape. */
  val LiveFilesPerSecond = 12.5
  val LiveRecLo = 10
  val LiveRecHi = 60
  val LiveMaxFilesPerTrigger = 100
  /** Warm-up before the open loop: `LiveBursts` triggers of
    * `LiveBurstFiles` files each, landed at once and drained (closed
    * loop). The code is then JIT-warm and no queue is left when the
    * generator starts; a queue left by slow early triggers would drain
    * slowly through the timed window and set its latency. */
  val LiveBursts = 2
  val LiveBurstFiles = 25
  /** The open loop's first seconds of landings, untimed: the stream
    * climbs from an empty queue to its steady trigger size. */
  val LiveRampSeconds = 2.0
  /** Kinesis-shaped sink model for ct-live: one shard's write quota,
    * 1,000 records and 1 MiB per second (the published Kinesis Data
    * Streams quota), plus 2 % injected transient failures, 15 ms per
    * put and failures on the first two attempts only (model choices,
    * not measured; see CONTRACT.md). */
  val LiveSink = SinkModel(latencyMs = 15, recPerS = 1000.0, bytesPerS = 1048576.0,
    failRate = 0.02, failAttempts = 2)
  /** The p95 latency limit. Files still not acked this long after the
    * generator stops form the end backlog. */
  val LatencyLimitMs = 8000.0
  /** Generator lateness beyond which a run is flagged. */
  val GeneratorLateLimitMs = 50.0

  def backlogShape(seconds: Int): CtShape = {
    val files = BacklogFilesPerTrigger + math.ceil(seconds * BacklogFilesPerSecond).toInt
    CtShape(files, BacklogRecLo, BacklogRecHi, dupFrac = 0.02, oooFrac = 0.05,
      late = 6, lateFromFile = BacklogFilesPerTrigger)
  }

  val LiveRampFiles: Int = math.ceil(LiveRampSeconds * LiveFilesPerSecond).toInt
  /** Files before the timed window: the first trigger's, the bursts'
    * and the ramp's. */
  val LiveWarmupFiles: Int = 1 + LiveBursts * LiveBurstFiles + LiveRampFiles

  def liveShape(seconds: Int): CtShape = {
    val files = LiveWarmupFiles + math.ceil(seconds * LiveFilesPerSecond).toInt
    CtShape(files, LiveRecLo, LiveRecHi, dupFrac = 0.02, oooFrac = 0.05,
      late = 6, lateFromFile = 1)
  }

  private def start(spark: SparkSession, landing: Path, chk: Path, maxFiles: Int,
      sink: KinesisSink): StreamingQuery = {
    val cfg = PipelineConfig.fromEnv(Map(
      "GRAFT_CT_IN_PATH" -> landing.toString,
      "GRAFT_CT_CHECKPOINT" -> chk.toString,
      "GRAFT_CT_MAX_FILES_PER_TRIGGER" -> maxFiles.toString,
      "GRAFT_CT_STATE_STORE" -> "rocksdb"))
    CloudTrailPipeline.run(spark, cfg, sink)
  }

  private def dirs(work: String, tag: String): (Path, Path, Path) = {
    val base = Paths.get(work, tag)
    val staging = Files.createDirectories(base.resolve("staging"))
    val landing = Files.createDirectories(base.resolve("landing"))
    (staging, landing, base.resolve("checkpoint"))
  }

  /** `streaming.*` and `streaming.state.*` over the timed triggers;
    * drop counts over every trigger. */
  private def streamingMetrics(all: Seq[Trigger], timed: Seq[Trigger]): Seq[Metric] = {
    val exec = timed.map(_.ms("triggerExecution").toDouble)
    val fixed = timed.map(t => (t.ms("triggerExecution") - t.ms("addBatch")).toDouble)
    def phase(p: String) = timed.map(_.ms(p)).sum / 1e3
    Seq(
      Metric("streaming.triggers", timed.size.toDouble, "count"),
      Metric("streaming.trigger_p50_ms", Pure.median(exec), "ms"),
      Metric("streaming.trigger_p95_ms", Pure.pct(exec, 0.95), "ms"),
      Metric("streaming.fixed_ms_per_trigger", Pure.median(fixed), "ms"),
      Metric("streaming.addBatch_s", phase("addBatch"), "s"),
      Metric("streaming.queryPlanning_s", phase("queryPlanning"), "s"),
      Metric("streaming.latestOffset_s", phase("latestOffset"), "s"),
      Metric("streaming.walCommit_s", phase("walCommit"), "s"),
      Metric("streaming.commitOffsets_s", phase("commitOffsets"), "s"),
      Metric("streaming.state.rows_max", (0L +: timed.map(_.stateRows)).max.toDouble, "count"),
      Metric("streaming.state.mb_max", (0L +: timed.map(_.stateBytes)).max / 1e6, "MB"),
      Metric("streaming.state.commit_ms", timed.map(_.stateCommitMs).sum.toDouble, "ms"),
      Metric("streaming.state.dup_dropped", all.map(_.dupDropped).sum.toDouble, "count"),
      Metric("streaming.state.late_dropped", all.map(_.lateDropped).sum.toDouble, "count"))
  }

  /** Timed triggers as [input rows, triggerExecution ms, addBatch ms],
    * for the `info` line. */
  private def triggerMs(timed: Seq[Trigger]): String =
    timed.map(t => s"[${t.rows},${t.ms("triggerExecution")},${t.ms("addBatch")}]").mkString("[", ",", "]")

  private def sinkMetrics(st: SinkState): Seq[Metric] = {
    val calls = st.putCalls.get
    Seq(
      Metric("sink.put_calls", calls.toDouble, "count"),
      Metric("sink.records_per_call",
        if (calls > 0) st.recordsOffered.get.toDouble / calls else 0.0, "count"),
      Metric("sink.put_busy_s", st.putBusyNs.get / 1e9, "s"),
      Metric("sink.records_retried", st.recordsRetried.get.toDouble, "count"),
      Metric("sink.records_throttled", st.recordsThrottled.get.toDouble, "count"),
      Metric("sink.retries_exhausted", st.retriesExhausted.toDouble, "count"),
      Metric("sink.backoff_wait_s", st.backoffNs.get / 1e9, "s"))
  }

  /** Delivery check plus the state drop counts against what the
    * generator injected; every mismatch is a failure. */
  private def verify(fx: CtFixture, st: SinkState, all: Seq[Trigger]): (Long, Long, Seq[(String, String)]) = {
    val c = CtFixtures.check(fx, st)
    val dupDropped = all.map(_.dupDropped).sum
    val lateDropped = all.map(_.lateDropped).sum
    val dropMismatch = math.abs(dupDropped - fx.dups) + math.abs(lateDropped - fx.late)
    (c.attempted, c.failed + dropMismatch, Seq(
      "expected_records" -> c.attempted.toString, "missing" -> c.missing.toString,
      "wrong" -> c.wrong.toString, "unexpected" -> c.unexpected.toString,
      "delivered_twice" -> c.doubled.toString,
      "dups_injected" -> fx.dups.toString, "dups_dropped" -> dupDropped.toString,
      "late_injected" -> fx.late.toString, "late_dropped" -> lateDropped.toString,
      "ooo_injected" -> fx.ooo.toString, "input_records" -> fx.inputRecords.toString))
  }

  /** Files due at `dueNs` (index = file) → per-file latency spans. */
  private def fileSpans(tracer: Tracer, dueNs: Array[Long], ackNs: Array[Long], from: Int): Unit =
    (from until dueNs.length).foreach { i =>
      if (ackNs(i) > 0) tracer.add(s"file:$i", "streaming:file_due_to_ack", "", dueNs(i), ackNs(i))
    }

  /** Trigger spans from progress, and each sink put under the trigger
    * that ran it. */
  private def triggerSpans(tracer: Tracer, triggers: Seq[Trigger], st: SinkState): Unit = {
    val spans = triggers.map { t =>
      val s = tracer.fromEpochMs(t.startMs)
      val e = s + t.ms("triggerExecution") * 1000000L
      (tracer.add(s"trigger:${t.batchId}", "streaming:trigger", "", s, e), t.batchId, s, e)
    }
    val puts = Option(st.putLog).map(q => scala.jdk.CollectionConverters
      .CollectionHasAsScala(q).asScala.toSeq).getOrElse(Nil)
    puts.foreach { case (s, e) =>
      val owner = spans.find { case (_, _, ts, te) => s >= ts && s <= te }
      tracer.add(owner.map(o => s"trigger:${o._2}").getOrElse("trigger:?"), "sink:put",
        owner.map(_._1).getOrElse(""), s, e)
    }
  }

  def backlog(work: String, seed: Long, seconds: Int, tracer: Option[Tracer]): Result = {
    val setup0 = System.nanoTime()
    val spark = Posture.session(Posture.streamingConfs, work)
    val cores = Posture.cores
    val tasks = TaskProbe.attach(spark.sparkContext)
    val progress = new ProgressProbe
    spark.streams.addListener(progress)
    val fx = CtFixtures.generate(seed, backlogShape(seconds))
    val (staging, landing, chk) = dirs(work, "ct-backlog")
    val mtime0 = System.currentTimeMillis() - 3600000L
    val staged = fx.files.indices.map(i => fx.stage(staging, i, mtime0 + i * 10L))
    val st = new SinkState(SinkModel.Unlimited, seed, CtFixtures.fileOf, fx.perFile)
    if (tracer.isDefined) st.putLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val sink = KinesisSink.register(st)
    val k = BacklogFilesPerTrigger
    staged.take(k).foreach(fx.land(_, landing))
    val first0 = System.nanoTime()
    val coldCpu0 = Proc.cpuNs()
    val q = start(spark, landing, chk, k, sink)
    q.processAllAvailable()
    val t0 = System.nanoTime()
    val coldCpuS = (Proc.cpuNs() - coldCpu0) / 1e9
    Bus.flush(spark.sparkContext)
    val warmIds = progress.all.map(_.batchId).toSet
    val delivered0 = st.delivered.size
    val cpu0 = Proc.cpuNs()
    val task0 = tasks.snap()
    staged.drop(k).foreach(fx.land(_, landing))
    q.processAllAvailable()
    val t1 = System.nanoTime()
    val cpu1 = Proc.cpuNs()
    Bus.flush(spark.sparkContext)
    val task1 = tasks.snap()
    q.stop()
    val wallS = (t1 - t0) / 1e9
    val records = (st.delivered.size - delivered0).toDouble
    val all = progress.all
    val timed = all.filterNot(t => warmIds(t.batchId))
    val due = Array.tabulate(fx.files.size)(i => if (i < k) first0 else t0)
    val ack = Array.tabulate(fx.files.size)(i => st.ackNs.get(i))
    val (lat, unacked) = Pure.latenciesMs(due.drop(k), ack.drop(k))
    val (attempted, failedChecks, notes) = verify(fx, st, all)
    val failed = failedChecks + unacked
    val rate = records / wallS
    val cpuPerK = (cpu1 - cpu0) / 1e6 / (records / 1000.0)
    val setupS = (t0 - setup0) / 1e9
    val coldS = (t0 - first0) / 1e9

    var layer = streamingMetrics(all, timed) ++ sinkMetrics(st) ++
      tasks.metrics(task0, task1, wallS, cores)
    tracer.foreach { tr =>
      fileSpans(tr, due, ack, k)
      triggerSpans(tr, all, st)
      layer ++= sourcesRead(spark, landing.toString, fx, tr) ++ ladder(spark, landing.toString, tr)
    }
    spark.stop()
    tracer.foreach { tr =>
      layer :+= singleCore(work, seed, fx, k, k + math.max(k, (fx.files.size - k) / 4), k, tr)
    }

    Result("ct-backlog", Posture.describe("streaming"),
      e2e = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("throughput_per_s", rate, "1/s"),
        Metric("latency_ms", Pure.median(lat), "ms"),
        Metric("cpu_ms_per_unit", cpuPerK, "ms")),
      named = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("cold_s", coldS, "s"),
        Metric("cold_cpu_s", coldCpuS, "s"),
        Metric("ingest_records_per_s", rate, "rec/s"),
        Metric("ingest_cpu_ms_per_krec", cpuPerK, "ms"),
        Metric("failed_frac", failed.toDouble / math.max(1L, attempted), "ratio")),
      layer = layer, attempted = attempted, failed = failed,
      notes = notes ++ Seq("backlog_files" -> (fx.files.size - k).toString,
        "drain_s" -> Json.num(wallS),
        "timed_triggers" -> triggerMs(timed),
        "latency_samples" -> lat.size.toString, "unacked_files" -> unacked.toString),
      headline = ("ingest_records_per_s", rate, true))
  }

  /** `spark.read.format("cloudtrail")` over the landed files: all
    * columns, then one pruned column. */
  private def sourcesRead(spark: SparkSession, dir: String, fx: CtFixture,
      tr: Tracer): Seq[Metric] = {
    def timed(name: String, df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      tr.span(s"read:$name", s"sources:$name") { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    val full = timed("read", spark.read.format("cloudtrail").load(dir))
    val pruned = timed("pruned_read",
      spark.read.format("cloudtrail").load(dir).select("eventName"))
    Seq(Metric("sources.read_records_per_s", fx.inputRecords / full, "1/s"),
      Metric("sources.pruned_read_records_per_s", fx.inputRecords / pruned, "1/s"))
  }

  /** Step ladder in batch form over the landed files: decode, then +
    * dedup, + serialize, + sink (each timed on its second run).
    * The pipeline's `dedup` (`dropDuplicatesWithinWatermark`) rejects
    * batch frames, so the batch dedup step is its batch equivalent,
    * `dropDuplicates("eventID")`. */
  private def ladder(spark: SparkSession, dir: String, tr: Tracer): Seq[Metric] = {
    import CloudTrailPipeline._
    def raw = spark.read.text(dir)
    def dedup(df: DataFrame) = df.dropDuplicates("eventID")
    val counting = KinesisSink.register(new SinkState(SinkModel.Unlimited, 0L, _ => -1, Array.empty[Int]))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val steps: Seq[(String, () => Unit)] = Seq(
      "decode" -> (() => noop(decodeEnvelopes(raw))),
      "dedup" -> (() => noop(dedup(decodeEnvelopes(raw)))),
      "serialize" -> (() => noop(toSinkEntries(dedup(decodeEnvelopes(raw))))),
      "sink" -> (() => toSinkEntries(dedup(decodeEnvelopes(raw))).foreachPartition {
        (it: Iterator[Row]) =>
          drainPartition(it.map(r => (r.getString(0), r.getString(1))), counting)
          ()
      }))
    steps.map { case (name, run) =>
      run()
      val s = tr.span(s"ladder:$name", s"streaming:ladder_$name") { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }
      Metric(s"streaming.ladder.${name}_s", s, "s")
    }
  }

  /** The pipeline on local[1] as the single-core scaling baseline: the
    * first `first` files make the untimed first trigger, then files up
    * to `n` land at once and their drain is timed. */
  private def singleCore(work: String, seed: Long, fx: CtFixture, first: Int, n0: Int,
      maxFiles: Int, tr: Tracer): Metric = {
    val spark = Posture.session(Posture.streamingConfs, s"$work/single", cores = 1)
    try {
      val k = first
      val n = math.min(n0, fx.files.size)
      val (staging, landing, chk) = dirs(work, "single-core")
      val mtime0 = System.currentTimeMillis() - 3600000L
      val staged = (0 until n).map(i => fx.stage(staging, i, mtime0 + i * 10L))
      val st = new SinkState(SinkModel.Unlimited, seed, CtFixtures.fileOf, fx.perFile)
      staged.take(k).foreach(fx.land(_, landing))
      val q = start(spark, landing, chk, maxFiles, KinesisSink.register(st))
      q.processAllAvailable()
      val d0 = st.delivered.size
      val s = tr.span("single-core", "streaming:single_core_drain") { _ =>
        val t0 = System.nanoTime()
        staged.drop(k).foreach(fx.land(_, landing))
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      q.stop()
      Metric("streaming.single_core_records_per_s", (st.delivered.size - d0) / s, "1/s")
    } finally spark.stop()
  }

  def live(work: String, seed: Long, seconds: Int, tracer: Option[Tracer]): Result = {
    val setup0 = System.nanoTime()
    val spark = Posture.session(Posture.streamingConfs, work)
    val cores = Posture.cores
    val tasks = TaskProbe.attach(spark.sparkContext)
    val progress = new ProgressProbe
    spark.streams.addListener(progress)
    val fx = CtFixtures.generate(seed, liveShape(seconds))
    val (staging, landing, chk) = dirs(work, "ct-live")
    val mtime0 = System.currentTimeMillis() - 3600000L
    val staged = fx.files.indices.map(i => fx.stage(staging, i, mtime0 + i * 10L))
    val st = new SinkState(LiveSink, seed, CtFixtures.fileOf, fx.perFile)
    if (tracer.isDefined) st.putLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val sink = KinesisSink.register(st)
    fx.land(staged(0), landing)
    val first0 = System.nanoTime()
    val coldCpu0 = Proc.cpuNs()
    val q = start(spark, landing, chk, LiveMaxFilesPerTrigger, sink)
    q.processAllAvailable()
    val setupEnd = System.nanoTime()
    val coldCpuS = (Proc.cpuNs() - coldCpu0) / 1e9
    Bus.flush(spark.sparkContext)
    val n = fx.files.size
    val due = new Array[Long](n)
    val landed = new Array[Long](n)
    due(0) = first0
    landed(0) = first0
    (0 until LiveBursts).foreach { b =>
      val from = 1 + b * LiveBurstFiles
      (from until from + LiveBurstFiles).foreach { i =>
        fx.land(staged(i), landing)
        landed(i) = System.nanoTime()
        due(i) = landed(i)
      }
      q.processAllAvailable()
    }
    // the open loop: files from `open` on, due on a fixed schedule
    val open = 1 + LiveBursts * LiveBurstFiles
    val gapNs = (1e9 / LiveFilesPerSecond).toLong
    val t0 = System.nanoTime() + 20000000L
    (open until n).foreach(i => due(i) = t0 + (i - open) * gapNs)
    val gen = new Thread(() => {
      (open until n).foreach { i =>
        var now = System.nanoTime()
        while (now < due(i)) {
          LockSupport.parkNanos(due(i) - now)
          now = System.nanoTime()
        }
        fx.land(staged(i), landing)
        landed(i) = System.nanoTime()
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    // the timed window opens when the first file after the ramp is due
    val first = LiveWarmupFiles
    val tw = due(first)
    while (System.nanoTime() < tw) LockSupport.parkNanos(tw - System.nanoTime())
    val twEpochMs = System.currentTimeMillis()
    val delivered0 = st.delivered.size
    val cpu0 = Proc.cpuNs()
    val task0 = tasks.snap()
    gen.join()
    val tStop = landed(n - 1)
    q.processAllAvailable()
    val t1 = System.nanoTime()
    val cpu1 = Proc.cpuNs()
    Bus.flush(spark.sparkContext)
    val task1 = tasks.snap()
    q.stop()

    val ack = Array.tabulate(n)(i => st.ackNs.get(i))
    val (lat, _) = Pure.latenciesMs(due.drop(first), ack.drop(first))
    val unacked = (1 until n).count(i => ack(i) == 0L)
    val limitNs = (LatencyLimitMs * 1e6).toLong
    val backlogEnd = (1 until n).count(i => ack(i) == 0L || ack(i) > tStop + limitNs)
    val (lateMax, genBehind) = Pure.lateness(due.drop(open), landed.drop(open), GeneratorLateLimitMs)
    val wallS = (t1 - tw) / 1e9
    val records = (st.delivered.size - delivered0).toDouble
    val all = progress.all
    val timed = all.filter(_.startMs >= twEpochMs)
    val (attempted, failedChecks, notes) = verify(fx, st, all)
    val failed = failedChecks + unacked
    val cpuPerK = (cpu1 - cpu0) / 1e6 / (records / 1000.0)
    val setupS = (setupEnd - setup0) / 1e9
    val p50 = Pure.median(lat)
    val p95 = Pure.pct(lat, 0.95)

    var layer = streamingMetrics(all, timed) ++ sinkMetrics(st) ++
      tasks.metrics(task0, task1, wallS, cores) :+
      Metric("generator.late_ms_max", lateMax, "ms")
    tracer.foreach { tr =>
      (open until n).foreach(i =>
        tr.add(s"file:$i", "generator:land", "", due(i), landed(i)))
      fileSpans(tr, due, ack, 1)
      triggerSpans(tr, all, st)
      layer ++= sourcesRead(spark, landing.toString, fx, tr) ++ ladder(spark, landing.toString, tr)
    }
    spark.stop()
    tracer.foreach { tr =>
      layer :+= singleCore(work, seed, fx, 1, 1 + LiveMaxFilesPerTrigger, LiveMaxFilesPerTrigger, tr)
    }

    Result("ct-live", Posture.describe("streaming"),
      e2e = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("throughput_per_s", (n - first) / wallS, "1/s"),
        Metric("latency_ms", p50, "ms"),
        Metric("cpu_ms_per_unit", cpuPerK, "ms")),
      named = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("cold_s", (setupEnd - first0) / 1e9, "s"),
        Metric("cold_cpu_s", coldCpuS, "s"),
        Metric("ingest_cpu_ms_per_krec", cpuPerK, "ms"),
        Metric("ingest_latency_p50_ms", p50, "ms"),
        Metric("ingest_latency_p95_ms", p95, "ms"),
        Metric("ingest_backlog_end_files", backlogEnd.toDouble, "files"),
        Metric("failed_frac", failed.toDouble / math.max(1L, attempted), "ratio")),
      layer = layer, attempted = attempted, failed = failed,
      notes = notes ++ Seq(
        "rate_files_per_s" -> Json.num(LiveFilesPerSecond),
        "files" -> (n - 1).toString,
        "warmup_files" -> (first - 1).toString,
        "timed_triggers" -> triggerMs(timed),
        "latency_samples" -> lat.size.toString,
        "p95_supported" -> Pure.supports(lat.size, 0.95).toString,
        "p95_limit_ms" -> Json.num(LatencyLimitMs),
        "p95_within_limit" -> (p95 <= LatencyLimitMs).toString,
        "generator_late_ms_max" -> Json.num(lateMax),
        "sink_quota_min_fill" -> Json.num(st.bucketMinFrac),
        "sink_bytes_per_record" -> Json.num(st.bytesOffered.get.toDouble / st.recordsOffered.get),
        "generator_behind" -> genBehind.toString,
        "unacked_files" -> unacked.toString),
      headline = ("ingest_latency_p50_ms", p50, false))
  }
}
