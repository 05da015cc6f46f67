package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.plans.{DerivedPartitionPruning, Layout}

/** Partition-pruning gate for the date-partitioned events layout
  * (round-12, verdict item 6 — build-failing, alongside the
  * ScanCensus suites).
  *
  * Layout date-partitions events by the layout-only `event_date`
  * column, which [[Tables]] drops on read — so only
  * [[DerivedPartitionPruning]] (replaying the writer-recorded
  * `event_date = to_date(ts2)` invariant) makes a literal `ts2`
  * range filter prune the partition listing. This suite pins, on the
  * REAL graded catalog via the shared writer:
  *
  *  1. a graded-shape query with a literal ts2 window reads FEWER
  *     partitions than the table has (the 100 TB scan lever);
  *  2. pruning never changes values (identical to the parquet run);
  *  3. the rule stays sound: no implied predicate without a literal
  *     ts2 conjunct, and none under a mismatched session timezone.
  */
class PartitionPruneSpec extends GraftSpecBase {

  private val prefix = "gpp"
  private val dir = s"catalog:$prefix"

  private lazy val written: Unit = {
    Tables.names.foreach(n => resetCatalogTable(s"${prefix}_$n"))
    Layout.writeGradedCatalog(spark, sf, prefix, buckets = 2)
  }

  /** All events FileSourceScanExec nodes of a query's executed plan. */
  private def eventsScans(df: org.apache.spark.sql.DataFrame) = {
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    p.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("_events")) => s
    }
  }

  private def partitionCount(
      s: FileSourceScanExec,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Int =
    s.relation.location.listFiles(filters, Nil).size

  // the graded-shape query: an hourly tumbling aggregate over ONE
  // literal day of a multi-day table — exactly the time-window class
  // the events partitioning exists for
  private def daySlice(d: String) = {
    val ev = Tables.events(spark, d)
    ev.filter(col("ts2") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        col("ts2") < lit("2024-01-03 00:00:00").cast("timestamp"))
      .groupBy(window(col("ts2"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy(col("ws"), col("event_type"))
  }

  test("a literal ts2 window over the catalog prunes event_date partitions (DerivedPartitionPruning)") {
    written
    val df = daySlice(dir)
    val scans = eventsScans(df)
    assert(scans.nonEmpty, "no events scan found in the plan")
    scans.foreach { s =>
      val total = partitionCount(s, Nil)
      val pruned = partitionCount(s, s.partitionFilters)
      assert(s.partitionFilters.exists(
          _.references.exists(_.name == "event_date")),
        s"no event_date partition filter reached the scan: " +
          s"${s.partitionFilters}")
      assert(total > 1, s"fixture has $total partition(s) — vacuous")
      assert(pruned < total,
        s"scan reads $pruned of $total partitions — nothing pruned")
    }
  }

  test("pruning never changes values: catalog day-slice == parquet day-slice") {
    written
    val fromParquet = daySlice(sf).collect().map(_.toString).sorted.toSeq
    val fromLayout = daySlice(dir).collect().map(_.toString).sorted.toSeq
    assert(fromLayout == fromParquet,
      "pruned catalog result differs from the parquet run")
    assert(fromLayout.nonEmpty, "day slice returned no rows — vacuous")
  }

  test("soundness: no ts2 literal => no implied partition filter; value-only filters stay unpruned") {
    written
    val ev = Tables.events(spark, dir)
    val df = ev.filter(col("value") > 0.5)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    eventsScans(df).foreach { s =>
      assert(!s.partitionFilters.exists(
          _.references.exists(_.name == "event_date")),
        s"spurious event_date filter from a value predicate: " +
          s"${s.partitionFilters}")
    }
  }

  test("soundness: a mismatched session timezone disables the implication") {
    written
    val prop = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${prefix}_events"))
      .properties(DerivedPartitionPruning.PropKey)
    // the property records the WRITE timezone; the rule compares it
    // to the session zone before implying anything
    assert(prop.endsWith(s":${spark.sessionState.conf.sessionLocalTimeZone}"))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      eventsScans(daySlice(dir)).foreach { s =>
        assert(!s.partitionFilters.exists(
            _.references.exists(_.name == "event_date")),
          "implied a partition filter across a timezone mismatch — " +
            "to_date truncates differently per zone, this drops rows")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }
}
