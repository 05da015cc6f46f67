package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main and the
  * test session get their session here, so the confs that decide
  * plans and timings cannot drift apart between callers:
  *
  *  - `local[cores]`, UTC session time zone, UI off;
  *  - the codegen class cache at [[CodegenCacheEntries]];
  *  - shuffle width and AQE from the caller's [[Posture]];
  *  - the graft extensions through [[GraftExtensions.register]] —
  *    the same install path the table loaders take, so plans are the
  *    ones the benchmark measures;
  *  - optionally the graded tables written through the production
  *    catalog layout into a run-private warehouse ([[open]]).
  *
  * Environment overrides, read only here:
  *   SPARK_GRAFT_CPUS           cores (default: the caller's cap, or fewer)
  *   SPARK_GRAFT_SHUFFLE        spark.sql.shuffle.partitions
  *   SPARK_GRAFT_AQE            spark.sql.adaptive.enabled
  *   SPARK_GRAFT_MAXPART        spark.sql.files.maxPartitionBytes (open cost 0)
  *   SPARK_GRAFT_LAYOUT         catalog prefix; `off` or empty reads raw parquet
  *   SPARK_GRAFT_LAYOUT_BUCKETS bucket count of the catalog layout
  */
object GraftSession {

  /** Codegen class cache size. Spark's default of 100 entries is
    * evicted many times over by the ~1500 codegen units the query
    * surface compiles, so every repeated query paid janino again
    * (sizing it was worth −23 % suite wall, OPTIMIZATION_r12 O1). It
    * memoizes compiled bytecode keyed on generated source, not
    * results. */
  val CodegenCacheEntries = 4096

  /** Session shape: cores, shuffle width, AQE (None keeps Spark's
    * default), optional scan split size, driver log level. */
  final case class Posture(cores: Int, shuffle: Int,
      aqe: Option[Boolean] = None, maxPartitionBytes: Option[String] = None,
      logLevel: String = "WARN")

  object Posture {
    /** A caller's defaults, each overridable from the environment.
      * `maxCores` caps the machine's processor count; `shuffle` maps
      * the resolved core count to the default shuffle width. */
    def fromEnv(maxCores: Int, shuffle: Int => Int,
        aqe: Option[Boolean], logLevel: String = "WARN"): Posture = {
      val cores = env("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
        math.min(maxCores, Runtime.getRuntime.availableProcessors()))
      Posture(cores,
        env("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(shuffle(cores)),
        env("SPARK_GRAFT_AQE").map(_.toBoolean).orElse(aqe),
        env("SPARK_GRAFT_MAXPART"), logLevel)
    }
  }

  private def env(k: String): Option[String] = sys.env.get(k).filter(_.nonEmpty)

  /** Build (or join the running) session at `p`, extensions installed. */
  def session(p: Posture, warehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${p.cores}]")
      .config("spark.sql.shuffle.partitions", p.shuffle.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    p.aqe.foreach(a => b.config("spark.sql.adaptive.enabled", a.toString))
    p.maxPartitionBytes.foreach { bytes =>
      b.config("spark.sql.files.maxPartitionBytes", bytes)
      // the 4 MB default open cost re-glues small files into one
      // split, defeating a tiny maxPartitionBytes at small scale
      b.config("spark.sql.files.openCostInBytes", "0")
    }
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(p.logLevel)
    // CacheOps.scoped unpersists each query's checkpoints after it is
    // consumed, by design; the RDD classes' "cannot be recomputed"
    // WARN per released frame is expected, not a hazard
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // when a plan's metric accumulators are garbage-collected while its
    // tasks still report, the scheduler logs a stack trace per
    // accumulator and task; job failures still reach the caller as
    // exceptions
    Seq("org.apache.spark.scheduler.DAGScheduler",
      "org.apache.spark.util.AccumulatorContext").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.OFF))
    GraftExtensions.register(spark)
    spark
  }

  /** Open a session over the graded tables at `sfDir`. With a catalog
    * layout (`layout`, or SPARK_GRAFT_LAYOUT) the tables are first
    * written through [[graft.plans.Layout.writeGradedCatalog]] into a
    * run-private warehouse with `buckets(cores)` buckets (or
    * SPARK_GRAFT_LAYOUT_BUCKETS), and queries read `catalog:<prefix>`;
    * [[GraftSession.close]] deletes that warehouse. */
  def open(sfDir: String, p: Posture, layout: Option[String],
      buckets: Int => Int): GraftSession = {
    val prefix = sys.env.get("SPARK_GRAFT_LAYOUT") match {
      case Some("") | Some("off") => None
      case Some(pfx) => Some(pfx)
      case None => layout
    }
    val warehouse = prefix.map(_ =>
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    val spark = session(p, warehouse)
    val nBuckets = prefix.map(_ => env("SPARK_GRAFT_LAYOUT_BUCKETS")
      .map(_.toInt).getOrElse(buckets(p.cores)))
    val queryDir = (prefix, nBuckets) match {
      case (Some(pfx), Some(n)) =>
        graft.plans.Layout.writeGradedCatalog(spark, sfDir, pfx, buckets = n)
        s"catalog:$pfx"
      case _ => sfDir
    }
    new GraftSession(spark, p, prefix, nBuckets, queryDir, warehouse)
  }
}

/** A session from [[GraftSession.open]]: queries take `queryDir` as
  * their table dir; `posture` is the shape it was built at, `layout`
  * the catalog prefix and `buckets` its bucket count, if any. */
final class GraftSession private (val spark: SparkSession,
    val posture: GraftSession.Posture, val layout: Option[String],
    val buckets: Option[Int], val queryDir: String,
    warehouse: Option[String]) extends AutoCloseable {

  /** Stop the session, then delete the run-private warehouse. */
  override def close(): Unit =
    try spark.stop()
    finally warehouse.foreach(graft.plans.Layout.deleteTree)
}
