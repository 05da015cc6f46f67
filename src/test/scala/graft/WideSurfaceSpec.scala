package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, WideSurfaceQueries}

/** Semantics tests for the wide-surface widening + dedup clustering. */
class WideSurfaceSpec extends GraftSpecBase {

  test("q_regex_extract_all splits every p_type word") {
    val df = WideSurfaceQueries.regexExtractAll(spark, sf)
    // word count equals whitespace-split count for these fixtures
    val bad = df.join(Tables.part(spark, sf), "p_partkey")
      .filter(col("n_words") =!= size(split(col("p_type"), " ")))
    assert(bad.count() === 0)
  }

  test("q_split_part decomposes priority into rank + name") {
    val rows = WideSurfaceQueries.splitPart(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getString(0).matches("[1-5]"))
      assert(r.getString(1).nonEmpty)
    }
  }

  test("q_time_bucket buckets are 15-minute aligned and partition all events") {
    val df = WideSurfaceQueries.timeBucket(spark, sf).cache()
    val n = df.agg(sum("n")).collect()(0).getLong(0)
    assert(n === Tables.events(spark, sf).count())
    val misaligned = df.filter(minute(col("bucket")) % 15 =!= 0 ||
      second(col("bucket")) =!= 0)
    assert(misaligned.count() === 0)
    df.unpersist()
  }

  test("q_weighted_avg sits between min and max price per flag") {
    val w = WideSurfaceQueries.weightedAvg(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bounds = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    w.foreach { case (k, v) =>
      val (lo, hi) = bounds(k)
      assert(v >= lo && v <= hi)
    }
  }

  test("q_join_nullsafe matches the NULL group to itself") {
    val rows = WideSurfaceQueries.joinNullsafe(spark, sf).collect()
    // three status groups: NULL (was P), F, O — all must join
    assert(rows.length === 3)
    assert(rows.head.isNullAt(0), "NULL key row must survive the join first")
  }

  test("q_pct_of_total sums to 100%") {
    val pcts = WideSurfaceQueries.pctOfTotal(spark, sf)
      .agg(sum("pct")).collect()(0).getDouble(0)
    assert(math.abs(pcts - 100.0) < 0.01, s"got $pcts")
  }

  test("q_dedup_cluster distributed rounds match the driver union-find branch") {
    val local = DedupQueries.dedupClusterImpl(spark, sf, smallGraphMax = 1 << 20)
      .collect().toSeq
    val dist = DedupQueries.dedupClusterImpl(spark, sf, smallGraphMax = -1)
      .collect().toSeq
    assert(local === dist)
  }

  test("q_dedup_cluster labels are component minima and closed under edges") {
    val labels = DedupQueries.dedupCluster(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty, "sf0.001 has near-dup edges at tau=0.1")
    // every cluster id is itself a member with a self-label
    labels.values.foreach(c => assert(labels(c) === c))
    // edge closure: both endpoints of every edge share a label
    val edges = DedupQueries.dedupNgram(spark, sf)
      .filter(col("jaccard") >= 0.1)
      .select("doc_a", "doc_b").collect()
    edges.foreach { e =>
      assert(labels(e.getLong(0)) === labels(e.getLong(1)))
    }
  }
}
