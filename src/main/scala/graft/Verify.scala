package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (tools/check.sh).
  *
  * Usage: graft.Verify sfDir outDir [query ...]
  *
  * The session dials are [[GraftSession]]'s; one more selects the
  * checkpoint mode: SPARK_GRAFT_CKPT_DIR=<dir> becomes the context's
  * checkpoint dir, so every [[graft.operators.CacheOps.truncated]] site
  * writes RELIABLE checkpoints there (the 100 TB fault-tolerance
  * posture) and the DuckDB oracle compare certifies that mode changes
  * no value. Reliable checkpoint files are not released by unpersist;
  * Verify never deletes the dir (it may be shared or pre-exist), so the
  * caller owns it. A real deployment instead sets
  * spark.cleaner.referenceTracking.cleanCheckpoints=true in the initial
  * SparkConf so the ContextCleaner removes each frame's files when its
  * scope releases it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: run only the named queries (dev loop; the driver
    // always calls with two args = full run)
    val only = args.drop(2).toSet
    // SPARK_GRAFT_LAYOUT=<prefix> runs the WHOLE graded surface over
    // the production Layout (facts bucketed by dominant join key,
    // events date-partitioned + user-bucketed); the driver's DuckDB
    // compare, which reads the raw parquet, then certifies the storage
    // layout changes no value. Buckets default to the core count: Verify
    // runs ONE query at a time, so per-query scan parallelism should
    // fill the machine (Bench divides cores by its stream count).
    // The SHUFFLE/MAXPART/AQE dials let the same sweep run under a
    // hostile physical shape (e.g. SPARK_GRAFT_SHUFFLE=5,
    // SPARK_GRAFT_MAXPART=262144 so every scan splinters,
    // SPARK_GRAFT_AQE=false so nothing re-coalesces): answers must not
    // depend on partitioning, and any divergence found this way is a
    // real 100 TB bug that sf-local runs can never see.
    val gs = GraftSession.open(sfDir,
      GraftSession.Posture.fromEnv(maxCores = 32, shuffle = cores => cores,
        aqe = None),
      layout = None, buckets = cores => cores)
    val spark = gs.spark
    val queryDir = gs.queryDir
    sys.env.get("SPARK_GRAFT_CKPT_DIR").filter(_.nonEmpty)
      .foreach(spark.sparkContext.setCheckpointDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // scoped: each query's checkpoint blocks are released once its
      // parquet is written (round-9 lifecycle hook — a full 538-query
      // dump otherwise accumulates every dead cached frame in one JVM)
      try graft.operators.CacheOps.scoped {
        fn(spark, queryDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    // stop the session (which deletes a layout run's warehouse) on
    // every in-process exit path, exceptional included
    try Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    finally gs.close()
  }
}
