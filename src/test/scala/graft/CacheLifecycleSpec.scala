package graft

import org.apache.spark.sql.functions._

import graft.operators.CacheOps
import graft.operators.CacheOps.CheckpointSyntax

/** Round-9 (verdict item 2): checkpoint block LIFECYCLE. The ~140
  * truncatedCheckpoint sites persist RDD blocks that were previously
  * reclaimed only by GC/ContextCleaner — a full bench/verify pass
  * accumulated ~600+ dead cached frames in one JVM, and a long-lived
  * job-server session had no release discipline at all. These tests
  * pin the explicit hook ([[CacheOps.scoped]], wired around every
  * query execution in Bench and Verify): storage returns to the
  * pre-scope floor once a query's results are consumed.
  */
class CacheLifecycleSpec extends GraftSpecBase {

  private def persistedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Checkpoint-heavy graded queries (PrefixOps materializations,
    * iterative frames, label slices) — the shapes whose blocks
    * accumulate. */
  private val sweep = Seq(
    "q_runs_test", "q_mad", "q_mi_ranking", "q_geomedian", "q_mmd",
    "q_ordinal_gamma", "q_win_analytic")

  test("a sequential query sweep under scoped() returns storage to the floor") {
    // assert NO NEW persisted RDDs survive each scope. (Not exact-count
    // equality: in the full shared-session suite the ContextCleaner
    // reclaims other suites' dead frames asynchronously, so the
    // baseline can legitimately SHRINK mid-test — observed once as
    // 241 != 244 in a full run while the isolated run passed.)
    sweep.foreach { name =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      CacheOps.scoped {
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"after $name: ${leaked.size} new persisted RDDs survived the " +
          s"scope (ids ${leaked.take(5)}) — the scope failed to release " +
          "the query's checkpoint blocks")
    }
  }

  private def ckptId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case _ => fail("expected a LogicalRDD checkpoint leaf")
    }

  test("without scoped(), an executed checkpoint DOES persist blocks (the hook is load-bearing)") {
    val ck = Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .truncatedCheckpoint()
    ck.write.format("noop").mode("overwrite").save()
    val id = ckptId(ck)
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "an executed lazy checkpoint outside any scope must show up in storage " +
        "(otherwise the leak assertion above proves nothing)")
    // manual cleanup to restore the shared session's floor
    spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  test("scoped() releases only THIS thread's checkpoints (concurrent streams stay isolated)") {
    // an un-scoped checkpoint created on another thread, executed and
    // still alive while this thread's scope opens and closes
    @volatile var other: org.apache.spark.sql.DataFrame = null
    val t = new Thread(() => {
      other = Tables.events(spark, sf)
        .groupBy(col("event_type")).agg(sum(col("value")).as("s"))
        .truncatedCheckpoint()
      other.write.format("noop").mode("overwrite").save()
    })
    t.start(); t.join()
    val otherId = ckptId(other)
    assert(spark.sparkContext.getPersistentRDDs.contains(otherId))
    CacheOps.scoped {
      SparkEntry.queries("q_runs_test")(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(otherId),
      "a scope must not release another thread's live frame")
    spark.sparkContext.getPersistentRDDs(otherId).unpersist(blocking = true)
    assert(!spark.sparkContext.getPersistentRDDs.contains(otherId))
  }

  test("reliable-checkpoint dial: same values, reliable files on disk, registry still sees the interior") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val grid = Tables.events(spark, sf)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .truncatedCheckpoint()
      val local = Tables.events(spark, sf)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      assert(grid.collect().sortBy(_.getString(0)).toSeq ==
        local.collect().sortBy(_.getString(0)).toSeq,
        "reliable checkpoint must not change values")
      assert(graft.plans.CheckpointRegistry.expand(
        grid.queryExecution.optimizedPlan).size > 1,
        "the registry must see the reliable checkpoint's interior too")
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try assert(written.anyMatch(_.getFileName.toString.startsWith("part-")),
        "with a checkpoint dir set, the checkpoint must be written there")
      finally written.close()
    } finally {
      // the dir alone selects reliable checkpoints: clear it so later
      // specs on the shared context keep local ones
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}
