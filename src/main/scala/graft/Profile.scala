package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.collection.concurrent.TrieMap

/** Per-query profiling main on the bench posture ([[Bench.openSession]]:
  * same session confs, catalog layout and persisted tables, so its
  * numbers are the bench's). One session, one table warm-up, one loop
  * over the named queries (every registered query when none is named).
  * For each query it prints:
  *
  *  - `==== <q> reps:` the wall seconds of each of `--reps` runs (the
  *    first one is cold: codegen and JIT);
  *  - `==== <q> wall=…` the per-stage table of the last run — stage
  *    wall, summed task time, executor CPU, shuffle read/write, first
  *    line of the stage name, heaviest 12 stages — and its job count;
  *  - `===== <q>  (exchanges: …, reused: …, scans: …)` the census of
  *    its physical plan: real and reused shuffles, and how often each
  *    base table is read (over the optimized logical plan expanded
  *    through checkpointed interiors — the logic GlobalScanSpec gates
  *    on), followed by the plan's exchange/join/aggregate/window lines;
  *  - `CODEGENFALLBACK <q> <Expr>` for each graft expression planned
  *    with interpreted eval. Expected: the object-buffer aggregates
  *    (KmvDistinct, TopKStruct, HistFixed, BitsetDistinct), which are
  *    CodegenFallback by construction, as Spark's collect_list is; the
  *    scalar expressions (FloatVecDot, NGramShingles, Md5Bucket, …)
  *    must not appear;
  *  - with `--plans TAG`, `.explain("formatted")` written to
  *    `plans/TAG/<q>.txt`.
  *
  * A last `===== CENSUS` line sums the census over every query run.
  * The plan is the planned one, not an AQE re-plan: the bench posture
  * runs AQE off, so it is the plan that executes.
  *
  * Usage: graft.Profile [--reps N] [--plans TAG] sfDir [query ...]
  */
object Profile {

  private case class St(name: String, wallMs: Long, taskMs: Long,
    cpuMs: Long, shRead: Long, shWrite: Long, tasks: Int)

  /** Census accumulators over the whole run. */
  private final class Census {
    val distribution = scala.collection.mutable.Map[Int, Int]()
    var factScans, unknown, fallbacks = 0

    def line: String =
      "===== CENSUS max-per-fact distribution: " +
        distribution.toSeq.sorted.map { case (k, n) => s"${k}x$n" }
          .mkString(" / ") +
        s"; total fact-scan occurrences $factScans; unknown $unknown" +
        s"; codegen fallbacks $fallbacks"
  }

  private val interesting = Seq("Exchange", "Join", "Broadcast",
    "HashAggregate", "WindowGroupLimit", "TakeOrderedAndProject",
    "PushedFilters", "Window")

  /** The census lines of `df`'s plan, folded into `c` too. Must run
    * inside the query's CacheOps scope: the scope's close drops the
    * checkpoint provenance the scan census expands through. */
  private def census(name: String, df: DataFrame, c: Census): Seq[String] = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val lines = plan.toString.linesIterator.toSeq
    val nEx = lines.count(l => (l.contains("Exchange hashpartitioning")
      || l.contains("Exchange rangepartitioning")
      || l.contains("Exchange SinglePartition"))
      && !l.contains("ReusedExchange"))
    val nRe = lines.count(_.contains("ReusedExchange"))
    val scans = graft.plans.ScanCensus.tableScanCounts(
      graft.plans.CheckpointRegistry.expand(df.queryExecution.optimizedPlan))
    val scanStr = (scans - "unknown").toSeq.sortBy(-_._2)
      .map { case (t, n) => s"$t=$n" }
      .++(scans.get("unknown").filter(_ > 0).map(n => s"unknown=$n"))
      .mkString(",")
    val factCounts = scans.collect {
      case (t, n) if graft.plans.ScanCensus.factTables.contains(t) => n
    }
    val factMax = factCounts.maxOption.getOrElse(0)
    c.distribution(factMax) = c.distribution.getOrElse(factMax, 0) + 1
    c.factScans += factCounts.sum
    c.unknown += scans.getOrElse("unknown", 0)
    val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect {
      case e: CodegenFallback if e.getClass.getName.startsWith("graft") =>
        s"CODEGENFALLBACK $name ${e.getClass.getSimpleName}"
    }))
    c.fallbacks += fallbacks.size
    (s"===== $name  (exchanges: $nEx, reused: $nRe, scans: $scanStr)" +:
      lines.filter(l => interesting.exists(l.contains))
        .map(l => "  " + l.trim.take(150))) ++ fallbacks
  }

  def main(args: Array[String]): Unit = {
    var reps = 3
    var plansTag: Option[String] = None
    var rest = args.toList
    var parsing = true
    while (parsing) rest match {
      case "--reps" :: n :: tail => reps = math.max(1, n.toInt); rest = tail
      case "--plans" :: t :: tail => plansTag = Some(t); rest = tail
      case _ => parsing = false
    }
    require(rest.nonEmpty,
      "usage: graft.Profile [--reps N] [--plans TAG] sfDir [query ...]")
    val sfDir = rest.head
    val names = if (rest.tail.nonEmpty) rest.tail
                else SparkEntry.queries.keys.toSeq.sorted
    val gs = Bench.openSession(sfDir, logLevel = "ERROR")
    val spark = gs.spark
    Bench.persistTables(spark, gs.queryDir)
    val plansDir = plansTag.map { t =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans", t))
    }

    val stages = TrieMap[Int, St]()
    val submitted = TrieMap[Int, Long]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted.put(e.stageInfo.stageId, System.nanoTime())
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = submitted.get(si.stageId)
          .map(t0 => (System.nanoTime() - t0) / 1000000L).getOrElse(-1L)
        val m = si.taskMetrics
        stages.put(si.stageId, St(si.name.linesIterator.next(), wall,
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, si.numTasks))
      }
    })

    val c = new Census
    try names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query $name")
        case Some(fn) =>
          try {
            var report = Seq.empty[String]
            val times = (1 to reps).map { rep =>
              val last = rep == reps
              if (last) {
                Bench.drainListenerBus(spark)
                stages.clear(); submitted.clear(); jobs.set(0)
              }
              graft.operators.CacheOps.scoped {
                val t0 = System.nanoTime()
                val df = fn(spark, gs.queryDir)
                df.write.format("noop").mode("overwrite").save()
                val t = (System.nanoTime() - t0) / 1e9
                if (last) {
                  report = census(name, df, c)
                  plansDir.foreach { d =>
                    val f = d.resolve(s"$name.txt")
                    java.nio.file.Files.write(f, df.queryExecution
                      .explainString(FormattedMode).getBytes("UTF-8"))
                    report :+= s"[profile] wrote $f"
                  }
                }
                t
              }
            }
            println(f"==== $name reps: ${times.map(t => f"$t%.3f").mkString(" ")}")
            Bench.drainListenerBus(spark)
            val sts = stages.toSeq.sortBy(_._1)
            val taskSum = sts.map(_._2.taskMs).sum
            println(f"==== $name wall=${times.last}%.2f s jobs=${jobs.get} " +
              f"stages=${sts.size} taskSum=${taskSum / 1000.0}%.2f s")
            sts.sortBy(-_._2.taskMs).take(12).foreach { case (id, s) =>
              println(f"  stage $id%4d task=${s.taskMs / 1000.0}%7.3f s " +
                f"cpu=${s.cpuMs / 1000.0}%7.3f wall=${s.wallMs / 1000.0}%6.2f " +
                f"tasks=${s.tasks}%3d shR=${s.shRead / 1024}%8dK " +
                f"shW=${s.shWrite / 1024}%8dK  ${s.name.take(70)}")
            }
            report.foreach(println)
          } catch { case e: Throwable =>
            // one line: an analysis error's message starts with a
            // newline and would otherwise print an empty FAILED line
            val msg = Option(e.getMessage).getOrElse(e.toString)
              .replace('\n', ' ').take(500)
            println(s"===== $name FAILED: $msg")
          }
      }
    }
    finally {
      println(c.line)
      gs.close()
    }
  }
}
