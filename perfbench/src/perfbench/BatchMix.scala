package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.perfbench.Bus

import graft.{SparkEntry, Tables}
import graft.operators.CacheOps
import graft.plans.Layout

/** batch-mix: one client, closed loop, over the bench catalog layout
  * at sf0.01 (tables made from the run's seed by `tables.py`). A cold
  * pass runs every sampled query once (planning plus codegen compile),
  * then one warm-up pass and [[measuredPasses]] measured warm passes
  * (about --seconds on a 4-core host). Each query is materialised by a
  * `noop` write, as `graft.Bench` does.
  * After the warm passes, untimed, each query's result is written for
  * the oracle comparison that `run.py` makes. */
object BatchMix {

  /** ROADMAP item-4 targets, always in the mix. */
  val Targets: Seq[String] =
    Seq("q_quantile_reg", "q_tfidf_cosine", "q_learning_curve", "q_feature_corr")

  /** A uniform draw from the other oracle-graded queries, made once
    * by [[draw]]`(1, 20261017)` and fixed here so later changes to the
    * query registry do not change the workload. */
  val Drawn: Seq[String] = Seq("q_query_likelihood")

  val sample: Seq[String] = Targets ++ Drawn

  /** Nominal wall time of one warm pass on a 4-core host. */
  val NominalPassSeconds = 4.0

  /** Measured warm passes for a run of `seconds`: a fixed count, not a
    * deadline, so every run measures the same passes. Passes still get
    * faster as the JIT works, and a deadline let a fast run measure
    * later, faster passes than a slow one. */
  def measuredPasses(seconds: Int): Int =
    math.max(2, math.round(seconds / NominalPassSeconds).toInt)

  /** The draw behind [[Drawn]], kept to reproduce it. */
  def draw(n: Int, sampleSeed: Long): Seq[String] = {
    val pool = SparkEntry.queries.keySet.intersect(SparkEntry.oracleSql.keySet)
      .diff(Targets.toSet).toSeq.sorted
    val rnd = new java.util.Random(sampleSeed)
    val buf = scala.collection.mutable.ArrayBuffer.from(pool)
    (0 until n).map { _ => buf.remove(rnd.nextInt(buf.size)) }
  }

  def run(work: String, dataDir: String, resultsDir: String, seconds: Int,
      tracer: Option[Tracer]): Result = {
    val setup0 = System.nanoTime()
    val root = Posture.session(Posture.batchConfs, work)
    val cores = Posture.cores
    val tasks = TaskProbe.attach(root.sparkContext)
    def tspan[T](name: String)(body: => T): T =
      tracer.map(_.span(name, name)(_ => body)).getOrElse(body)

    val tl0 = System.nanoTime()
    tspan("tables:layout_write") {
      Layout.writeGradedCatalog(root, dataDir, Posture.layoutPrefix,
        buckets = Posture.layoutBuckets(cores))
    }
    val queryDir = s"catalog:${Posture.layoutPrefix}"
    val tp0 = System.nanoTime()
    tspan("tables:persist") {
      Tables.names.foreach { n =>
        val df = if (n == "events") Tables.events(root, queryDir) else Tables.table(root, queryDir, n)
        df.persist().count()
      }
    }
    val setupEnd = System.nanoTime()

    // the single client stream runs on its own child session, as each
    // of graft.Bench's streams does
    val spark = root.newSession()
    val plans = PlanProbe.attach(spark)
    val order = sample
    val fns = SparkEntry.queries
    var executions = 0L
    var errors = 0L
    val errorNames = scala.collection.mutable.LinkedHashSet[String]()

    /** One pass over the sample: (wall s, per-query s). Failed queries
      * count as errors and keep no time. */
    def pass(label: String): (Double, Map[String, Double]) = {
      val t0 = System.nanoTime()
      val times = order.flatMap { q =>
        executions += 1
        val q0 = System.nanoTime()
        val ok = try {
          tracer match {
            case None =>
              CacheOps.scoped {
                fns(q)(spark, queryDir).write.format("noop").mode("overwrite").save()
              }
            case Some(tr) => tracedQuery(tr, plans, spark, q, label, fns(q)(_, queryDir))
          }
          true
        } catch {
          case e: Exception =>
            errors += 1
            errorNames += q
            System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
            false
        }
        if (ok) Some(q -> (System.nanoTime() - q0) / 1e9) else None
      }
      ((System.nanoTime() - t0) / 1e9, times.toMap)
    }

    Bus.flush(root.sparkContext)
    val planA = plans.snap()
    val coldCpu0 = Proc.cpuNs()
    val (coldS, _) = pass("cold")
    val coldCpuS = (Proc.cpuNs() - coldCpu0) / 1e9
    val setupS = (System.nanoTime() - setup0) / 1e9
    Bus.flush(root.sparkContext)
    val planB = plans.snap()
    val cpu0 = Proc.cpuNs()
    val task0 = tasks.snap()
    val warm0 = System.nanoTime()
    val walls = Seq.newBuilder[Double]
    val cpus = Seq.newBuilder[Double]
    val perQuery = scala.collection.mutable.Map[String, Seq[Double]]()
    var passes = 0
    // the first warm pass still runs slower (the JIT is compiling the
    // paths the cold pass opened) and only warms up; the medians are
    // over the passes after it
    while (passes < 1 + measuredPasses(seconds)) {
      val c0 = Proc.cpuNs()
      val (w, ts) = pass(s"warm${passes + 1}")
      if (passes > 0) {
        cpus += (Proc.cpuNs() - c0) / 1e9
        walls += w
        ts.foreach { case (q, t) => perQuery(q) = perQuery.getOrElse(q, Seq.empty) :+ t }
      }
      passes += 1
    }
    val warmWall = (System.nanoTime() - warm0) / 1e9
    val cpu1 = Proc.cpuNs()
    Bus.flush(root.sparkContext)
    val task1 = tasks.snap()
    val planC = plans.snap()

    // untimed: each query's collected result, for the oracle
    Files.createDirectories(Paths.get(resultsDir))
    sample.foreach { q =>
      try fns(q)(spark, queryDir).coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$q")
      catch {
        case e: Exception =>
          errors += 1
          errorNames += q
          System.err.println(s"[perfbench] $q result failed: ${e.getMessage}")
      }
    }
    val oracle = Json.obj(sample.map(q => q -> Json.str(SparkEntry.oracleSql(q))))
    Files.write(Paths.get(resultsDir, "oracle_sql.json"), oracle.getBytes("UTF-8"))
    root.stop()

    val queryMedians = perQuery.values.map(Pure.median).toSeq
    // geometric mean of the queries' median warm times: every query
    // weighs the same, whatever its length
    val latencyMs = math.exp(queryMedians.map(t => math.log(t * 1e3)).sum / queryMedians.size)
    val passWalls = walls.result()
    val warmS = Pure.median(passWalls)
    val cpuPass = Pure.median(cpus.result())
    val okPerPass = order.size - errorNames.size
    val layer = tasks.metrics(task0, task1, warmWall, cores) ++
      plans.metrics(planA, planB, "cold", 1) ++ plans.metrics(planB, planC, "warm", passes) ++
      sample.map(q => Metric(s"queries.$q.warm_s",
        Pure.median(perQuery.getOrElse(q, Seq.empty)), "s")) ++ Seq(
      Metric("tables.layout_write_s", (tp0 - tl0) / 1e9, "s"),
      Metric("tables.persist_s", (setupEnd - tp0) / 1e9, "s"))

    Result("batch-mix", Posture.describe("batch"),
      e2e = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("throughput_per_s", okPerPass / warmS, "1/s"),
        Metric("latency_ms", latencyMs, "ms"),
        Metric("cpu_ms_per_unit", cpuPass * 1e3 / math.max(1, okPerPass), "ms")),
      named = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("tables_setup_s", (setupEnd - setup0) / 1e9, "s"),
        Metric("batch_cold_s", coldS, "s"),
        Metric("cold_cpu_s", coldCpuS, "s"),
        Metric("batch_warm_s", warmS, "s"),
        Metric("batch_cpu_s", cpuPass, "s")),
      layer = layer,
      attempted = executions + sample.size, failed = errors,
      notes = Seq("queries" -> sample.size.toString, "warm_passes" -> passes.toString,
        "pass_s" -> passWalls.map(Json.num).mkString("[", ",", "]"),
        "errors" -> errorNames.toSeq.map(Json.str).mkString("[", ",", "]")),
      headline = ("batch_warm_s", warmS, false))
  }

  /** A query with spans: build (the registry call, with eager
    * analysis), then the noop write with its planning phases (from
    * the QueryPlanningTracker) and execution as children. */
  private def tracedQuery(tr: Tracer, plans: PlanProbe,
      spark: org.apache.spark.sql.SparkSession, q: String, label: String,
      build: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame): Unit = {
    val trace = s"query:$q:$label"
    tr.span(trace, s"queries:$q") { root =>
      CacheOps.scoped {
        val df = tr.span(trace, "plans:build", root)(_ => build(spark))
        val w0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val w1 = System.nanoTime()
        Bus.flush(spark.sparkContext)
        val ph = plans.last
        val planned = Seq("analysis", "optimization", "planning").flatMap { p =>
          ph.get(p).map { case (s, e) =>
            tr.add(trace, s"plans:$p", root, tr.fromEpochMs(s), tr.fromEpochMs(e))
            tr.fromEpochMs(e)
          }
        }
        val execStart = if (planned.isEmpty) w0 else math.max(w0, planned.max)
        tr.add(trace, "queries:execute", root, execStart, w1)
      }
    }
  }
}
