package graft

import org.apache.spark.sql.functions._
import graft.plans.Layout

/** Proves the 100 TB layout claims on real data: bucketed tables
  * sort-merge-join with no shuffle Exchange, and the custom SQL
  * function registration works. */
class LayoutSpec extends GraftSpecBase {

  test("bucketed fact tables join without a shuffle Exchange") {
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    Layout.writeBucketed(Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_b", 8, "o_orderkey")
    Layout.writeBucketed(Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity"),
      "lineitem_b", 8, "l_orderkey")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Layout.read(spark, "lineitem_b")
        .join(Layout.read(spark, "orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_quantity")).as("q"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      // the join must not shuffle either side: no Exchange keyed on
      // the join key (the groupBy above legitimately exchanges on
      // o_custkey — that one would be removed by bucketing on custkey
      // instead, a different layout choice)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p.take(3000))
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("date-partitioned events layout prunes partitions on a date filter") {
    spark.sql("DROP TABLE IF EXISTS events_p")
    val loc = new java.io.File("spark-warehouse/events_p")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    val ev = Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts2")))
      .select("event_id", "user_id", "event_type", "value", "event_date")
    Layout.writePartitionedBucketed(ev, "events_p", "event_date", 4, "user_id")
    val q = Layout.read(spark, "events_p")
      .filter(col("event_date") === "2024-01-05")
      .groupBy("event_type").count()
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // the date predicate must be a PartitionFilter on the scan (pruned
    // directories), not a post-scan Filter
    assert(p.contains("PartitionFilters") && p.contains("event_date"), p.take(3000))
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("2024-01-05") || scanLine.contains("19727"),
      scanLine.take(500))
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the DPP case §4 lists: a fact table partitioned on the join key
    // joined to a FILTERED dimension — the partition filter is only
    // known at runtime (from the dim side), so static pruning can't
    // help; Spark injects a dynamicpruning subquery on the fact scan
    spark.sql("DROP TABLE IF EXISTS orders_part")
    val loc = new java.io.File("spark-warehouse/orders_part")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").saveAsTable("orders_part")
    val dim = Tables.orders(spark, sf)
      .select(year(col("o_orderdate")).as("d_year")).distinct()
      .filter(col("d_year") >= 2000)
    val q = Layout.read(spark, "orders_part")
      .join(dim, col("o_year") === col("d_year"))
      .groupBy(col("o_year")).count()
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "fact scan carries a runtime pruning subquery: " + p.take(2000))
    // and the result is correct
    val got = q.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exp = Tables.orders(spark, sf)
      .withColumn("y", year(col("o_orderdate"))).filter(col("y") >= 2000)
      .groupBy("y").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == exp)
  }

  test("IVF top-k returns exact-kernel scores from the probed clusters") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    val ivf = graft.functions.Ann.ivfTopK(e, "vec_id", "embedding", q, 10,
      nClusters = 8, nprobe = 2).collect()
    assert(ivf.nonEmpty)
    assert(ivf.head.getLong(0) === 0L) // query's own cluster is probed first
    val brute = graft.functions.Ann.bruteForceTopK(e, "vec_id", "embedding", q, 500)
      .select("vec_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { r =>
      assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-12)
    }
  }

  test("vec_dot SQL function registers and matches the Column API") {
    Tables.embeddings(spark, sf).limit(10).createOrReplaceTempView("emb_t")
    val viaSql = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS d
        |FROM emb_t ORDER BY vec_id""".stripMargin).collect()
    val viaCol = Tables.embeddings(spark, sf).limit(10)
      .select(col("vec_id"),
        graft.functions.expressions.FloatVecDot
          .dot(col("embedding"), col("embedding")).as("d"))
      .orderBy(col("vec_id")).collect()
    assert(viaSql.map(_.getDouble(1)).toSeq === viaCol.map(_.getDouble(1)).toSeq)
    assert(viaSql.forall(_.getDouble(1) >= 0.0)) // self-dot = squared norm
  }
}
