package perfbench

import org.apache.spark.sql.SparkSession

/** The fixed Spark posture of each workload family, echoed into every
  * output line.
  *  - streaming: `graft.streaming.StreamBench`'s session confs, and
  *    the RocksDB state store through `PipelineConfig`
  *    (`GRAFT_CT_STATE_STORE=rocksdb`);
  *  - batch: `graft.Bench`'s session confs, over the bench catalog
  *    layout (`Layout.writeGradedCatalog`, prefix `bench`, buckets =
  *    cores / streams with one stream).
  * Both run on local[cores], cores = the JVM's available processors. */
object Posture {
  val cores: Int = Runtime.getRuntime.availableProcessors

  val streamingConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  val batchConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  val batchStreams = 1
  val layoutPrefix = "bench"
  def layoutBuckets(cores: Int): Int = math.max(1, cores / batchStreams)

  /** A session on local[`cores`] whose scratch, warehouse and spill
    * directories all sit under `work`. */
  def session(confs: Seq[(String, String)], work: String, cores: Int = cores): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quiet.foreach(n => org.apache.logging.log4j.core.config.Configurator.setLevel(
      n, org.apache.logging.log4j.Level.OFF))
    s
  }

  /** Loggers silenced in the benchmark JVM. When a plan's metric
    * accumulators are garbage-collected while its tasks still report,
    * the DAG scheduler logs a stack trace per accumulator and task,
    * thousands per query, from its event loop; the flood slows the
    * scheduler by seconds and only in some runs. Job failures still
    * surface as exceptions to the caller. */
  private val quiet = Seq("org.apache.spark.scheduler.DAGScheduler",
    "org.apache.spark.util.AccumulatorContext", "org.apache.spark.rdd")

  def describe(family: String, cores: Int = cores): String = {
    val confs = if (family == "batch") batchConfs else streamingConfs
    val extra = if (family == "batch")
      Seq("layout" -> Json.str(s"catalog:$layoutPrefix"),
        "layout_buckets" -> layoutBuckets(cores).toString,
        "streams" -> batchStreams.toString)
    else Seq("state_store" -> Json.str("rocksdb"))
    Json.obj(Seq("master" -> Json.str(s"local[$cores]"), "cores" -> cores.toString) ++
      confs.map { case (k, v) => k -> Json.str(v) } ++ extra)
  }
}
