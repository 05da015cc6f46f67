package perfbench

import java.nio.file.{Files, Paths}

/** What one workload run reports.
  * @param e2e the end-to-end metrics (BENCHMARK.json `end_to_end`)
  * @param named the workload's metrics under their ingest/batch names
  * @param layer per-layer metrics; names the workload does not touch
  *   are reported as 0 by [[Main]]
  * @param headline the figure compared between traced and untraced
  *   runs for the tracing overhead: (name, value, higher is better) */
final case class Result(workload: String, posture: String, e2e: Seq[Metric],
    named: Seq[Metric], layer: Seq[Metric], attempted: Long, failed: Long,
    notes: Seq[(String, String)], headline: (String, Double, Boolean))

/** Benchmark JVM entry point. Arguments:
  *   --workload ct-backlog|ct-live|batch-mix (comma-separated for several)
  *   --seed N --seconds S --trace 0|1
  *   --work DIR      run-private scratch (deleted by the caller)
  *   --data DIR      batch tables (parquet, one file per table)
  *   --results DIR   where batch-mix writes each query's result
  *   --history DIR   untraced headlines of this build, for the tracing overhead
  *   --selfcheck     run only the pure-part self-checks
  * Prints, per workload, an `info` line (posture, named metrics, check
  * details) and a `result` line (contract fields + posture). */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val bad = Pure.selfCheck()
    if (args.contains("--selfcheck")) {
      bad.foreach(b => System.err.println(s"selfcheck FAILED: $b"))
      println(Json.obj(Seq("selfcheck" -> Json.str(if (bad.isEmpty) "ok" else "failed"),
        "failures" -> bad.map(Json.str).mkString("[", ",", "]"))))
      sys.exit(if (bad.isEmpty) 0 else 1)
    }
    if (bad.nonEmpty) {
      bad.foreach(b => System.err.println(s"selfcheck FAILED: $b"))
      sys.exit(3)
    }
    val workloads = opts("workload").split(",").toSeq
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val history = opts.get("history")

    workloads.foreach { w =>
      val wdir = s"$work/$w"
      Files.createDirectories(Paths.get(wdir))
      val tracer = if (trace) Some(new Tracer) else None
      val r = w match {
        case "ct-backlog" => Ingest.backlog(wdir, seed, seconds, tracer)
        case "ct-live" => Ingest.live(wdir, seed, seconds, tracer)
        case "batch-mix" => BatchMix.run(wdir, opts("data"), opts("results"), seconds, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val rss = Proc.peakRssMb()
      val overhead = history.map(h => traceOverhead(h, r, seconds, trace)).getOrElse(Seq.empty)
      val layer = tracer.map { tr =>
        val path = s"${opts.getOrElse("traces", work)}/spans-$w-seed$seed.json"
        tr.write(path)
        val got = r.layer.map(m => m.name -> m).toMap
        val extra = (overhead ++ Seq(Metric("trace.spans", tr.all.size.toDouble, "count"),
          Metric("jvm.peak_rss_mb", rss, "MB"))).map(m => m.name -> m).toMap
        val spanLayers = tr.layers
        (Layers.all.map { case (n, u) =>
          got.getOrElse(n, extra.getOrElse(n, Metric(n, 0.0, u))) },
          Seq("spans_file" -> Json.str(path),
            "span_layers" -> Json.obj(spanLayers.toSeq.sorted.map { case (k, v) => k -> v.toString })))
      }
      val named = r.named :+ Metric("peak_rss_mb", rss, "MB")
      println(Json.obj(Seq(
        "type" -> Json.str("info"), "workload" -> Json.str(w),
        "posture" -> r.posture, "seed" -> seed.toString, "seconds" -> seconds.toString,
        "trace" -> trace.toString,
        "named_metrics" -> metricsJson(named),
        "checks" -> Json.obj(r.notes ++ layer.map(_._2).getOrElse(Nil)))))
      val metrics = if (trace) layer.get._1 else r.e2e
      println(Json.obj(Seq(
        "type" -> Json.str("result"), "workload" -> Json.str(w), "posture" -> r.posture,
        "correct" -> (r.failed == 0).toString, "attempted" -> r.attempted.toString,
        "failed" -> r.failed.toString, "metrics" -> metricsJson(metrics))))
      System.out.flush()
    }
  }

  private def metricsJson(ms: Seq[Metric]): String =
    Json.obj(ms.map(m => m.name -> Json.obj(Seq("value" -> Json.num(m.value),
      "unit" -> Json.str(m.unit)))))

  /** Untraced runs append their headline to
    * `<history>/<workload>-<seconds>s.tsv`; a traced run reports its gap
    * to their median. `<history>` is per build, so both sides ran the
    * same code. */
  private def traceOverhead(history: String, r: Result, seconds: Int,
      traced: Boolean): Seq[Metric] = {
    val p = Paths.get(history, s"${r.workload}-${seconds}s.tsv")
    val (name, value, higherBetter) = r.headline
    if (!traced) {
      Files.createDirectories(p.getParent)
      Files.write(p, s"$name\t$value\n".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      Seq.empty
    } else {
      import scala.jdk.CollectionConverters._
      val past = if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq
        .map(_.split("\t")).collect { case Array(`name`, v) => v.toDouble }
      else Nil
      val base = Pure.median(past)
      val frac = if (past.isEmpty) 0.0
        else if (higherBetter) base / value - 1.0 else value / base - 1.0
      Seq(Metric("trace.overhead_frac", frac, "ratio"),
        Metric("trace.untraced_runs", past.size.toDouble, "count"))
    }
  }
}

/** Every per-layer metric, in output order. A traced run of any
  * workload reports all of them; layers it leaves idle read 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "streaming.triggers" -> "count",
    "streaming.trigger_p50_ms" -> "ms",
    "streaming.trigger_p95_ms" -> "ms",
    "streaming.fixed_ms_per_trigger" -> "ms",
    "streaming.addBatch_s" -> "s",
    "streaming.queryPlanning_s" -> "s",
    "streaming.latestOffset_s" -> "s",
    "streaming.walCommit_s" -> "s",
    "streaming.commitOffsets_s" -> "s",
    "streaming.state.rows_max" -> "count",
    "streaming.state.mb_max" -> "MB",
    "streaming.state.commit_ms" -> "ms",
    "streaming.state.dup_dropped" -> "count",
    "streaming.state.late_dropped" -> "count",
    "streaming.ladder.decode_s" -> "s",
    "streaming.ladder.dedup_s" -> "s",
    "streaming.ladder.serialize_s" -> "s",
    "streaming.ladder.sink_s" -> "s",
    "streaming.single_core_records_per_s" -> "1/s",
    "generator.late_ms_max" -> "ms",
    "sink.put_calls" -> "count",
    "sink.records_per_call" -> "count",
    "sink.put_busy_s" -> "s",
    "sink.records_retried" -> "count",
    "sink.records_throttled" -> "count",
    "sink.retries_exhausted" -> "count",
    "sink.backoff_wait_s" -> "s",
    "sources.read_records_per_s" -> "1/s",
    "sources.pruned_read_records_per_s" -> "1/s",
    "spark.tasks" -> "count",
    "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.core_util" -> "ratio") ++
    PlanProbe.Names ++
    BatchMix.sample.map(q => s"queries.$q.warm_s" -> "s") ++ Seq(
    "tables.layout_write_s" -> "s",
    "tables.persist_s" -> "s",
    "jvm.peak_rss_mb" -> "MB",
    "trace.spans" -> "count",
    "trace.overhead_frac" -> "ratio",
    "trace.untraced_runs" -> "count")
}
