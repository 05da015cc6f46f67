package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
import graft.operators.CacheOps

/** Benchmark main (driver contract): times every declared query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Setup choices that matter for the number:
  *  - the session comes from [[openSession]] (the shared
  *    [[GraftSession]] factory at the bench posture, env-overridable);
  *  - the 10 base tables are read once and persisted before timing:
  *    every engine in this comparison scans the same ~100 MB, so the
  *    bench measures operator compute, not repeated cold reads (the
  *    memoized Tables plans make one persist serve all queries);
  *  - an untimed warm pass (codegen/JIT) runs every query first; its
  *    per-query seconds set the order the timed passes start them in
  *    (heaviest first, [[scheduleOrder]]), so the schedule follows the
  *    host and scale factor being measured;
  *  - `value` = MIN of N identical CLEAN timed passes (default 2, env
  *    SPARK_GRAFT_TIMED_PASSES; all raw pass totals in `passes`):
  *    deterministic work ⇒ pass-to-pass deltas are scheduler noise.
  *    The min must be ATTESTED by a second clean reading within 15%;
  *    until it is, up to 2 extra passes run, the condition
  *    re-evaluated after each (round-10). With no clean pass at all,
  *    the headline is the LARGEST total among the fewest-failures
  *    passes — a crash-shortened pass can never become the reported
  *    value;
  *  - AQE off / shuffle=4 by DEFAULT at this data size (measured:
  *    single-digit-MB shuffles make AQE's per-stage re-planning and
  *    wide task scheduling pure overhead, 72 s → 54 s total) — both
  *    env-overridable; the cluster-realism configuration (AQE on,
  *    shuffle=64) is re-measured per round in BASELINE.md because at
  *    100 TB both dials go back up.
  *
  * Both JSON lines echo the session shape in `posture` (cores,
  * shuffle, AQE, scan split, layout, buckets, streams, codegen cache).
  */
object Bench {

  // sink for the canary's live value so the loop can't be DCE'd
  @volatile private var canarySink: Long = 0L

  /** Host-speed canary: one fixed single-threaded splitmix64 loop
    * (3·10⁸ mixes — ~1.30 s on this container when a core is free,
    * BASELINE.md "canary protocol"). Pure ALU, no allocation, no I/O:
    * its wall-clock scales with the host's delivered single-thread
    * speed, so the bench JSON carries its own host-normalization
    * factor — a slow driver window shows up as canary ≫ reference,
    * distinguishing host contention from a plan regression without
    * repo-side narrative (round-5 grading gap). */
  private def canarySec(): Double = {
    var x = 0x9E3779B97F4A7C15L ^ canarySink
    var i = 0
    val n = 300000000
    val t0 = System.nanoTime()
    while (i < n) {
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31; x += 0x9E3779B97F4A7C15L
      i += 1
    }
    canarySink = x
    (System.nanoTime() - t0) / 1e9
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** MULTI-thread canary (round-10): the same splitmix64 loop run on
    * min(16, cores) threads at once; reported value = the SLOWEST
    * thread's wall-clock. The single-thread canary measures delivered
    * single-core speed and stayed flat (1.22-1.28 s) through an
    * evening whose 14-stream suite totals swung 65-115 s on identical
    * plans — multi-core co-tenancy is invisible to it. When external
    * load eats cores, the mt canary's stragglers inflate while the
    * 1-thread reading stays clean: the divergence CLASSIFIES the
    * window (own-JVM-idle, host-cores-busy) in the artifact itself
    * instead of in repo prose. Not yet wired into `contended` — the
    * quiet-window reference depends on the container's SMT topology
    * and is being calibrated across rounds in BASELINE.md. */
  private def canaryMtSec(): Double = {
    val n = math.min(16, Runtime.getRuntime.availableProcessors())
    val times = new Array[Double](n)
    val threads = (0 until n).map(i =>
      new Thread(() => { times(i) = canarySec() }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    times.max
  }

  @volatile private var memSink: Long = 0L

  /** (host busy jiffies, own process jiffies, host cpu count) — for
    * the IN-RUN external-CPU accounting below. None on platforms
    * without procfs (the metric degrades to its −1 sentinel; the
    * bench itself must not depend on Linux). Busy excludes the
    * guest/guest_nice columns (8-9): Linux already folds guest time
    * into user/nice, so summing them double-counts VM workloads. */
  private def cpuJiffies(): Option[(Long, Long, Int)] =
    try {
      val stat = scala.io.Source.fromFile("/proc/stat")
      val (parts, nCpus) =
        try {
          val lines = stat.getLines().toList
          val agg = lines.head.trim.split("\\s+").drop(1).map(_.toLong)
          // host cpus = "cpuN" lines; /proc/stat is NOT cgroup-masked,
          // so capacity must use the HOST width, not the JVM-visible
          // (quota-derived) processor count
          (agg, lines.count(l => l.startsWith("cpu") && !l.startsWith("cpu ")))
        } finally stat.close()
      val idle = parts(3) + (if (parts.length > 4) parts(4) else 0L)
      val busy = parts.take(8).sum - idle // user..steal, no guest dup
      val selfStat = scala.io.Source.fromFile("/proc/self/stat")
      val self = try selfStat.mkString.split(" ") finally selfStat.close()
      Some((busy, self(13).toLong + self(14).toLong, math.max(1, nCpus)))
    } catch { case NonFatal(_) => None }

  /** Fraction of the HOST's CPU capacity consumed by processes OTHER
    * than this JVM across a window of `elapsedSec` (round-10: the
    * canaries BRACKET a pass but cannot see contention DURING it —
    * an evening showed 1.4× suite totals with all three bracket
    * canaries clean; this measures the co-tenant directly, inside
    * the window that matters). USER_HZ is 100 on linux. −1.0 when
    * procfs is unavailable. */
  private def externalCpuFrac(before: Option[(Long, Long, Int)],
      after: Option[(Long, Long, Int)], elapsedSec: Double): Double =
    (before, after) match {
      case (Some((b0, o0, n)), Some((b1, o1, _))) =>
        val ext = (b1 - b0) - (o1 - o0)
        val capacity = n * 100.0 * elapsedSec
        if (capacity <= 0) 0.0 else math.max(0.0, ext / capacity)
      case _ => -1.0
    }

  /** MEMORY-STREAMING canary (round-10): sequential sum over a 256 MB
    * long array, 4 passes (1 GiB traversed) — measures delivered
    * DRAM/LLC stream rate. The third forensic axis: the ALU canaries
    * are register-resident and BLIND to memory-bandwidth co-tenancy,
    * while Spark scans/shuffles are bandwidth-bound. Reference
    * reading on this container (quiet): ~0.18-0.20 s (BASELINE.md
    * round-10 calibration). */
  private def canaryMemSec(): Double = {
    val n = 32 * 1024 * 1024
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    val t0 = System.nanoTime()
    var pass = 0
    var acc = memSink
    while (pass < 4) {
      var j = 0
      while (j < n) { acc += arr(j); j += 1 }
      pass += 1
    }
    memSink = acc
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------------
  // Headline / attestation rules, kept PURE and object-level so
  // BenchLogicSpec can pin them (round-10: the artifact-selection
  // logic grew non-trivial — min-of-clean, fewest-failures-max
  // fallback, attestation-driven reruns — and lived un-unit-tested
  // inside main).
  // ------------------------------------------------------------------

  private[graft] final case class PassStat(v: Double, nFailed: Int)

  /** True when the headline (min over CLEAN passes) is corroborated
    * by a SECOND clean reading within `tol` of it. False with <2
    * clean passes — a lone clean reading attests nothing. */
  private[graft] def attested(ps: Seq[PassStat], tol: Double = 0.15): Boolean = {
    val clean = ps.filter(_.nFailed == 0).map(_.v).sorted
    clean.size >= 2 && (clean(1) - clean(0)) / clean(0) <= tol
  }

  /** Round-12 (verdict item 2): pass-spread agreement certifies
    * REPEATABILITY, not CLEANLINESS — two passes in a uniformly slow
    * window agree with each other, which is how BENCH_r11's contended
    * 98 s headline (canary_post 4.42, load1 24.6) shipped wearing
    * `attested:true`. The artifact-level flag now ALSO requires the
    * window itself to have been clean: not `contended`, the post-pass
    * canary inside the same 25% reference band `contended` uses, and
    * no external CPU competitor (>5%) observed during the winning
    * pass. A repeatable reading from a dirty window self-describes as
    * unattested; re-run in a quiet window to stamp it. */
  private[graft] def attestedClean(ps: Seq[PassStat], contended: Boolean,
      canaryPost: Double, extCpu: Double,
      canaryRef: Double = 1.30): Boolean =
    attested(ps) && !contended && canaryPost <= canaryRef * 1.25 &&
      extCpu <= 0.05

  /** Σ of the headline pass's per-query in-concurrency seconds,
    * skipping the −1 failure sentinels — the CODE-side ground truth
    * the r9→r10 window forensics had to hand-compute from
    * bench_detail.json (340.1 vs 340.9 s proved code-neutrality while
    * wall-clock totals differed 30%). First-class in the artifact
    * (round-11, verdict item 3) so every future code-vs-host-window
    * question is answered by the JSON itself: qsum moves with the
    * CODE, wall-clock moves with scheduling luck. */
  private[graft] def qsumOf(times: Iterable[Double]): Double =
    times.filter(_ >= 0).sum

  /** Index of the pass whose total becomes `value`: the MIN over
    * clean passes; with NO clean pass, the LARGEST total among the
    * fewest-failures passes (round-9 ADVICE: a pass SHORTENED by an
    * early-crashing query must never become the headline — "a broken
    * query must not shrink the total"). */
  private[graft] def headlineIndex(ps: Seq[PassStat]): Int = {
    val clean = ps.zipWithIndex.filter(_._1.nFailed == 0)
    if (clean.nonEmpty) clean.minBy(_._1.v)._2
    else {
      val fewest = ps.map(_.nFailed).min
      ps.zipWithIndex.filter(_._1.nFailed == fewest).maxBy(_._1.v)._2
    }
  }

  /** LPT schedule of the timed passes: the queries in descending order
    * of their warm-pass seconds, so the concurrent streams drain into a
    * short tail (a slow query picked last would extend the wall-clock
    * by its full duration). Failed queries (the −1 sentinel) go last;
    * ties break by name. The order comes from this run's own warm pass,
    * so it follows the host, scale factor and code being measured. */
  private[graft] def scheduleOrder(warm: Iterable[(String, Double)]): Seq[String] =
    warm.toSeq.sortBy { case (name, t) => (t < 0, -t, name) }.map(_._1)

  /** Concurrent query streams of the timed suite. 14 measured fastest
    * on the 32-core container (8→20.6 s, 14→18.8 s, 20→21.6 s,
    * 24→25.9 s at sf0.1): enough oversubscription to fill the
    * driver-phase gaps each query pays, not so much that shuffle
    * stages thrash the core budget. */
  private def streams: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAMS", "14").toInt

  /** The bench posture, shared with [[Profile]] so its per-query
    * numbers are bench-identical.
    *
    * Shuffle partitions are sized to the DATA (textbook ~10-100 MB per
    * partition: the suite's shuffles are single-digit MB, so 4, not
    * core count), and AQE is off: at sf0.1 on 32 cores its per-stage
    * re-planning and >16-way task scheduling cost more than they save
    * (72 s → 54 s total). Both are data-size tunings; at 100 TB they
    * go back up (AQE on, partitions ≈ 2-3× cores) — see BASELINE.md.
    *
    * The bucketed catalog is the default layout: it measured faster
    * than parquet at full concurrency once buckets ≈ cores/streams
    * (BASELINE.md round-11 addendum), and it is the layout a 100 TB
    * deployment reads; SPARK_GRAFT_LAYOUT=off times raw parquet.
    * Bucket count divides the concurrency budget rather than adding
    * to it: at 14 streams an N-bucket table gives every query an
    * N-task scan stage (sf0.1 / 16 cores: 8 and 16 buckets ran ~2.3×
    * slower than parquet, 2 buckets matched it), so the default is
    * max(1, cores / streams). */
  def openSession(sfDir: String, logLevel: String = "WARN"): GraftSession =
    GraftSession.open(sfDir,
      GraftSession.Posture.fromEnv(maxCores = 16, shuffle = _ => 4,
        aqe = Some(false), logLevel = logLevel),
      layout = Some("bench"),
      buckets = cores => math.max(1, cores / streams))

  /** One-time warm read and cache of the shared inputs (not timed);
    * returns the frames it persisted, for a caller that drops them. */
  def persistTables(spark: SparkSession, queryDir: String): Seq[DataFrame] =
    Tables.names.flatMap { n =>
      try {
        val df = if (n == "events") Tables.events(spark, queryDir)
                 else Tables.table(spark, queryDir, n)
        df.persist().count()
        Some(df)
      } catch { case NonFatal(_) => None }
    }

  /** One timed query: its seconds, or the −1.0 sentinel when it fails.
    *
    * The FULL result is materialized (what Verify grades): a noop-sink
    * write executes every projection and the final sort, whereas
    * .count() would let Catalyst prune all columns and drop sorts,
    * under-measuring projection-heavy queries. [[CacheOps.scoped]]
    * releases the query's checkpoint blocks as soon as it completes
    * (round-9: storage stays at the base-table floor through a pass
    * instead of accumulating ~600 dead frames).
    *
    * Any Throwable counts as a failure — a planning StackOverflowError
    * must mark the query failed, not kill the stream thread running
    * it. A failure records −1.0, NOT its elapsed-at-crash time
    * (round-11 review): qsum is the code-vs-window ground truth, and
    * partial wall-clock from a crash point that moves between versions
    * would corrupt exactly the comparison it exists to settle (a
    * truncated solo time also read as misleadingly FAST, round 6). */
  def timeQuery(spark: SparkSession, queryDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, tag: String = "bench"): Double = {
    val t0 = System.nanoTime()
    try {
      CacheOps.scoped {
        fn(spark, queryDir).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    } catch {
      case ex: Throwable =>
        System.err.println(s"[$tag] $name FAILED: ${ex.getMessage}")
        -1.0
    }
  }

  /** The posture echo both JSON lines carry: the session shape that
    * produced the numbers, so an artifact names the host shape it
    * measured (the schedule and the defaults depend on it). */
  private[graft] def postureJson(gs: GraftSession, streams: Int): String = {
    val p = gs.posture
    def str(o: Option[String]) = o.map(Json.quote).getOrElse("null")
    s"""{"cores":${p.cores},"shuffle":${p.shuffle},"aqe":${
      p.aqe.map(_.toString).getOrElse("null")},"maxPartitionBytes":${
      str(p.maxPartitionBytes)},"layout":${str(gs.layout)},"buckets":${
      gs.buckets.map(_.toString).getOrElse("null")},"streams":$streams,"codegenCacheEntries":${
      GraftSession.CodegenCacheEntries}}"""
  }

  /** Drain the listener bus so every task/stage-end event of the work
    * just run is counted. The bus API is private[spark]: reflection,
    * best effort. */
  private[graft] def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass
        .getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1)
        .foreach { m =>
          if (m.getParameterCount == 0) m.invoke(bus)
          else m.invoke(bus, java.lang.Long.valueOf(10000L))
        }
    } catch { case NonFatal(_) => }

  def main(args: Array[String]): Unit = {
    // canary + loadavg BEFORE Spark spins up: measures what the HOST
    // is doing around this run, not our own 32 threads.
    // Contended-launch backoff (round-8 lesson: BENCH_r08 launched at
    // load0 4.1 and read 1.63× worse than the same HEAD in a quiet
    // window): if the host is visibly busy, sleep-and-retry in 10 s
    // steps, bounded at ~120 s, and report how long we waited. If the
    // window never clears the run proceeds and self-flags via
    // `contended` below rather than blocking the driver.
    var load0 = loadAvg()
    var waitedSec = 0
    while (load0 > 4.0 && waitedSec < 120) {
      Thread.sleep(10000)
      waitedSec += 10
      load0 = loadAvg()
    }
    val canaryPre = canarySec()
    val canaryMtPre = canaryMtSec()
    val canaryMemPre = canaryMemSec()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gs = openSession(sfDir)
    val spark = gs.spark
    val queryDir = gs.queryDir
    persistTables(spark, queryDir)
    // time the oracle-graded surface (capability rows — seeded ML
    // models, sketches — are correctness-declared but not part of the
    // comparable bench total), over `streams` concurrent streams
    val byName = SparkEntry.queries
      .filter { case (name, _) => SparkEntry.oracleSql.contains(name) }
    val nStreams = streams

    // Spill accounting (round-11, verdict item 6): task-metrics
    // memory/disk spill bytes, accumulated across the whole context
    // (all streams). The 2 GiB-heap certification claimed "degrades to
    // spilling, not OOM" — these counters make that a NUMBER in the
    // recorded artifact instead of an inference (quarter-heap run
    // shows nonzero spill + failed []; the default-heap run shows ~0).
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      })

    // Run the suite over `streams` concurrent query streams, each on
    // its own child session (shared SparkContext + cache, isolated
    // temp views/conf), starting the queries in `order`; returns each
    // query's seconds ([[timeQuery]]'s −1 on failure). Rationale: a
    // single stream leaves most cores idle during the driver-side
    // phases every query pays once — analysis, optimization,
    // whole-stage-codegen compilation — which dominate at the graded
    // data size (measured: warm re-runs are 3-5× faster than first
    // runs). Inter-query concurrency is the same scheduler feature any
    // production deployment uses; the reported total is honest
    // wall-clock for the whole suite.
    def runAll(order: Seq[String]): Map[String, Double] = {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      order.foreach(queue.add)
      val times = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      val threads = (1 to nStreams).map { _ =>
        val sess = spark.newSession()
        new Thread(() => {
          var name = queue.poll()
          while (name != null) {
            times.put(name, timeQuery(sess, queryDir, name, byName(name)))
            name = queue.poll()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      order.map(n => n -> times.getOrDefault(n, -1.0)).toMap
    }

    // base-table persists to KEEP across the pass-boundary cleanup
    val keepRdds = spark.sparkContext.getPersistentRDDs.keySet
    // safety-net sweep: CacheOps.scoped releases per query, so this is
    // normally a no-op — but any frame that escapes a scope would
    // otherwise bias the NEXT pass's storage pressure, so each pass
    // boundary (post-warm AND between timed passes) sweeps back to the
    // base-table floor
    def sweepToFloor(): Unit =
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !keepRdds.contains(id) }
        .values.foreach(_.unpersist(false))
    // codegen/JIT warm pass, untimed, in name order; its per-query
    // seconds are the timed passes' schedule ([[scheduleOrder]])
    val order = scheduleOrder(runAll(byName.keys.toSeq.sorted))
    sweepToFloor()
    // Round-9: the headline is the MIN over N back-to-back timed
    // passes (default 2). The suite's work is deterministic, so
    // wall-clock differences between identical passes are pure
    // scheduler noise — one evening showed 65.6 vs 96.4 s on the SAME
    // HEAD with clean canaries in both, variance the single-thread
    // canary cannot normalize (it measures host speed, not 14-stream
    // scheduling luck). min-of-N is the standard least-biased
    // estimator for deterministic workloads (timeit/hyperfine
    // convention); every pass's raw total is reported alongside.
    // Failure handling (round-9 review): a pass in which a query DIED
    // early has an artificially small wall-clock — "a broken query
    // must not shrink the total" — so the min is taken over CLEAN
    // passes only (falling back to all passes when none is clean),
    // and `failed` reports the UNION across passes so a query flaky
    // in any pass self-flags. Each pass is bracketed by its own
    // canaries so value_norm reflects the WINNING pass's host window,
    // not a mean across differently-contended passes.
    val timedPasses = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_TIMED_PASSES", "2").toInt)
    case class Pass(v: Double, failedQs: Seq[String],
        qTimes: Map[String, Double], cBefore: Double, cAfter: Double,
        extCpu: Double, spillMemB: Long, spillDiskB: Long)
    var cPrev = canarySec() // post-warm, pre-pass-1 host reading
    def onePass(): Pass = {
      val (sm0, sd0) = (spillMem.get(), spillDisk.get())
      val j0 = cpuJiffies()
      val t0 = System.nanoTime()
      val times = runAll(order)
      val v = (System.nanoTime() - t0) / 1e9
      val j1 = cpuJiffies()
      sweepToFloor()
      val cAfter = canarySec()
      // listener events are asynchronous: drain the bus so this pass's
      // task-end metrics are all counted before the delta is taken
      drainListenerBus(spark)
      // a broken query must not shrink the total: −1 marks it failed
      val p = Pass(v, times.collect { case (k, t) if t < 0 => k }.toSeq.sorted,
        times, cPrev, cAfter, externalCpuFrac(j0, j1, v),
        spillMem.get() - sm0, spillDisk.get() - sd0)
      cPrev = cAfter
      p
    }
    val basePasses = (1 to timedPasses).map(_ => onePass())
    // Round-10 (verdict item 6): ADAPTIVE extra passes. Two clean
    // passes that straddle a noise spike (observed doubles
    // [65.5, 86.3] and [74.3, 71.3] on identical plans) leave the min
    // poorly attested.
    // The headline (min over clean passes) must be ATTESTED
    // by a second clean reading within 15% of it; until it is, run
    // bounded extra passes (≤2 — the condition is RE-EVALUATED after
    // each, round-10 second review: a single unconditional retry could
    // itself fail a query or land >15% out and leave the lone reading
    // deciding). Covers all three under-attested shapes: divergent
    // clean pair, a lone clean pass among dirty ones, and no clean
    // pass at all. If the budget runs out still unattested, the
    // passes/failed fields self-describe it.
    def stats(ps: Seq[Pass]): Seq[Bench.PassStat] =
      ps.map(p => Bench.PassStat(p.v, p.failedQs.size))
    val passes = {
      var acc = basePasses
      var extras = 0
      while (timedPasses >= 2 && extras < 2 && !Bench.attested(stats(acc))) {
        acc = acc :+ onePass()
        extras += 1
      }
      acc
    }
    val best = passes(Bench.headlineIndex(stats(passes)))
    val total = best.v
    val bestTimes = best.qTimes
    val passVals = passes.map(_.v)
    // canary_post = the last post-pass canary (same bracket semantics
    // as before); load1 includes our own threads' decaying load
    val canaryPost = cPrev
    val load1 = loadAvg()

    def fmt(d: Double): String = f"$d%.3f"
    val failedJson = passes.flatMap(_.failedQs).distinct.sorted
      .map(Json.quote).mkString("[", ",", "]")
    val allTimes = order.map(k => k -> bestTimes.getOrElse(k, -1.0))

    // solo re-profile of the heaviest in-concurrency entries: warm,
    // single-stream compute numbers free of queue-position effects —
    // the round-5 lesson (80 s in-concurrency tails vs ≤4.6 s solo)
    // surfaced into the artifact itself instead of repo prose
    val soloK = sys.env.getOrElse("SPARK_GRAFT_SOLO", "15").toInt
    val soloNames = allTimes.sortBy(-_._2).take(math.max(soloK, 0)).map(_._1)
    // measurement-consistency fix (round-12, declared in
    // OPTIMIZATION_r12.md): solo re-profiles run over queryDir, what
    // the timed passes executed, not the raw sfDir. A solo run that
    // dies lands in solo_failed so the artifact self-flags.
    val soloSess = spark.newSession()
    val soloTimes = soloNames.map(n => n -> timeQuery(soloSess, queryDir, n, byName(n)))
    val soloFailed = soloTimes.collect { case (n, t) if t < 0 => n }
    val soloJson = soloTimes.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val soloFailedJson = soloFailed.sorted.map(Json.quote).mkString("[", ",", "]")
    val soloMax = if (soloTimes.isEmpty) 0.0 else soloTimes.map(_._2).max
    // bracket the SOLO pass with its own canary (round-6 verdict: the
    // post-timed-pass canary ran BEFORE the solo re-profile, so a
    // window that went contended during solo — BENCH_r06's 68 s
    // q_runs_test — could not self-flag the way the timed pass does)
    val canaryEnd = canarySec()
    val canaryMtEnd = canaryMtSec()
    val canaryMemEnd = canaryMemSec()

    val fullQs = allTimes.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    // Canary-normalized headline (round-8 verdict #1): the canary is a
    // fixed single-thread workload whose reference wall-clock on this
    // container is 1.30 s (BASELINE.md canary protocol), so
    // value × (1.30 / mean(canary)) rescales the total to quiet-window
    // host speed — a contended launch can no longer read as a plan
    // regression. `contended` self-flags the window (launch load > 4
    // even after the bounded backoff, or canaries >25% over reference).
    // normalize by the canaries BRACKETING the winning pass (round-9
    // review: a mean across differently-contended passes corrupts the
    // normalized headline — e.g. a quiet min pass divided by a
    // contended mean reads faster than anything measured)
    val bestBracket = (best.cBefore + best.cAfter) / 2.0
    val valueNorm = total * (1.30 / bestBracket)
    val canaryMean = (canaryPre + canaryPost + canaryEnd) / 3.0
    val contended = load0 > 4.0 || canaryMean > 1.30 * 1.25 ||
      bestBracket > 1.30 * 1.25
    val passesJson = passVals.map(fmt).mkString("[", ",", "]")
    // qsum (round-11, verdict item 3): per-query-sum ground truth of
    // the headline pass — moves with the CODE, not the host window.
    // attested (round-11 ADVICE): explicit self-flag — consumers no
    // longer re-derive attestation from passes/failed.
    // spill_mem/spill_disk (round-11, verdict item 6): the winning
    // pass's task-metrics spill bytes — the constrained-heap
    // "spills, not OOMs" claim as a recorded number.
    val qsum = Bench.qsumOf(bestTimes.values)
    val isAttested = Bench.attestedClean(stats(passes), contended,
      canaryPost, best.extCpu)
    // marks a catalog-layout run (absent on raw-parquet runs; its
    // consumers read it), beside the whole session shape in `posture`
    val layoutJson =
      gs.layout.map(pfx => s""","layout":${Json.quote(pfx)}""").getOrElse("")
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","value_norm":${fmt(valueNorm)},"qsum":${fmt(qsum)},"attested":$isAttested,"passes":$passesJson,"contended":$contended,"waited":$waitedSec,"qn":${allTimes.size},"failed":$failedJson,"canary_pre":${fmt(canaryPre)},"canary_post":${fmt(canaryPost)},"canary_end":${fmt(canaryEnd)},"canary_mt_pre":${fmt(canaryMtPre)},"canary_mt_end":${fmt(canaryMtEnd)},"canary_mem_pre":${fmt(canaryMemPre)},"canary_mem_end":${fmt(canaryMemEnd)},"ext_cpu":${fmt(best.extCpu)},"ext_cpu_max":${fmt(passes.map(_.extCpu).max)},"spill_mem":${best.spillMemB},"spill_disk":${best.spillDiskB},"load0":${fmt(load0)},"load1":${fmt(load1)},"solo_max":${fmt(soloMax)},"solo_failed":$soloFailedJson,"sf":${Json.quote(sfDir)}$layoutJson,"posture":${postureJson(gs, nStreams)}"""
    // Full per-query detail, written to a file (and printed on its own
    // earlier line for humans).
    val fullJson = s"""{$head,"solo":$soloJson,"queries":$fullQs}"""
    try {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
        "bench_detail.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (fullJson + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(_) => }
    // The FINAL stdout line must be a complete JSON object that fits
    // inside the driver's 2000-char stdout tail buffer (round 2
    // lesson: the driver keeps only the last 2000 chars and parses the
    // last line — a longer line is front-truncated and fails to parse,
    // BENCH_r02 "parsed": null). Include per-query times heaviest-
    // first until a conservative character budget is hit; the full map
    // is on the preceding line and in bench_detail.json.
    // Budget the WHOLE line, not just the queries map: head carries the
    // failed list + sf path, which round-4's local tailparse_check
    // caught pushing the line to 1606 chars with a 1500 map budget.
    val budget = 1400 - (head.length + """{,"queries":{}}""".length)
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var used = 0
    allTimes.sortBy(-_._2).foreach { case (k, v) =>
      val s = s""""$k":${fmt(v)}"""
      if (used + s.length + 1 <= budget) { parts += s; used += s.length + 1 }
    }
    val compactQs = parts.mkString("{", ",", "}")
    gs.close()
    // printed AFTER spark.stop(), as the very last stdout lines: the
    // driver parses the tail of stdout, and anything after the JSON
    // (shutdown noise, sbt's "[success]" epilogue — suppressed in
    // build.sbt via showSuccess := false) breaks that parse
    println(fullJson)
    println(s"""{$head,"queries":$compactQs}""")
  }
}
