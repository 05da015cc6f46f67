package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #1: information-retrieval ranking, graph
  * centrality, and robust time-series operators a training-data
  * pipeline layers on top of the relational core — BM25 document
  * scoring, weighted PageRank over an entity graph, IQR anomaly
  * flagging, rolling medians, and exponentially-weighted moving
  * averages.
  *
  * Scale notes (100 TB): BM25 is two keyed aggregates plus a
  * broadcast of the (tiny) per-term document frequencies — the
  * corpus-sized side shuffles once on doc_id. PageRank materializes
  * the edge list once (the only heavy join tree), then each iteration
  * is a single shuffle on `dst` keyed by ≤|V| rows — at real scale the
  * edge list is bucketed by src so every iteration co-partitions for
  * free. The window queries (rolling median, EWMA) partition on their
  * natural keys (supplier / user) and never see a global sort.
  *
  * Determinism: every floating intermediate is either IEEE-identical
  * by construction (same scalar expression tree both engines) or
  * rounded to a fixed scale and summed as DECIMAL (order-independent)
  * per SURVEY.md D2.
  */
object IrGraphQueries extends QueryFamily {

  /** q_bm25 — Okapi BM25 relevance score of every document for the
    * 2-term query {"data","fast"} (k1=1.2, b=0.75).
    *
    * tf/df/dl are exact integer aggregates; idf and the saturation
    * term are computed with an identical scalar expression tree in
    * both engines (IEEE-deterministic given equal inputs), then each
    * per-term score is rounded to 8dp and summed as DECIMAL so the
    * two-term reduction is order-independent. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
    // doc-length and query-term grids each feed two consumers —
    // materialize each once (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .truncatedCheckpoint()
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.filter(col("term").isin("data", "fast"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .truncatedCheckpoint()
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val sat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / avgdl))
    tf.join(dl, "doc_id").join(broadcast(dfq), "term").crossJoin(broadcast(st))
      .select(col("doc_id"),
        round(idf * sat, 8).cast("decimal(18,8)").as("term_score"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")).cast("double"), 4).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("doc_id"))
  }

  val bm25Oracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term
      |             FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('data','fast') GROUP BY 1,2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      |SELECT tf.doc_id,
      |  round(CAST(sum(CAST(round(
      |    ln((st.n_docs - dfq.df + 0.5::DOUBLE)/(dfq.df + 0.5::DOUBLE) + 1.0) *
      |    (tf.tf * 2.2::DOUBLE) /
      |    (tf.tf + 1.2::DOUBLE*(1.0 - 0.75 + 0.75::DOUBLE * dl.dl /
      |      (CAST(st.sum_dl AS DOUBLE)/CAST(st.n_docs AS DOUBLE)))),
      |  8) AS DECIMAL(18,8))) AS DOUBLE), 4) AS bm25,
      |  count(*)::BIGINT AS n_terms
      |FROM tf JOIN dl ON dl.doc_id = tf.doc_id
      |  JOIN dfq ON dfq.term = tf.term CROSS JOIN st
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_pagerank — 3 iterations of weighted PageRank (damping 0.85)
    * over the nation-level trade graph: an edge src→dst for every
    * (customer nation, supplier nation) pair, weighted by lineitem
    * count; transition probability w(u,v)/W(u).
    *
    * The rank vector is DECIMAL(20,12); each contribution is computed
    * as a double (identical expression tree both engines), rounded to
    * 12dp and summed exactly, so iteration results are bit-stable
    * regardless of reduction order. Dangling mass is dropped (spec'd,
    * deterministic). At 100 TB the edge list is built once (the only
    * heavy join tree), cached, and bucketed by src; each iteration is
    * then one co-partitioned shuffle of |V| rank rows — the classic
    * iterative-dataflow shape Spark executes well. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(col("c_custkey"), col("c_nationkey").as("src"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d).select(col("s_suppkey"), col("s_nationkey").as("dst")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("src"), col("dst"))
    val edges = base.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w")).persist()
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
      .withColumnRenamed("src", "o_node")
    val nodes = nation(s, d).select(col("n_nationkey").as("node"))
    val decZero = lit(BigDecimal(0)).cast("decimal(20,12)")
    var r: DataFrame = nodes.select(col("node"),
      lit(BigDecimal("0.04")).cast("decimal(20,12)").as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(r.withColumnRenamed("node", "p_node"), col("p_node") === col("src"))
        .join(outw, col("o_node") === col("src"))
        .select(col("dst"),
          round(col("r").cast("double") * col("w").cast("double") /
            col("wtot").cast("double") * lit(0.85), 12)
            .cast("decimal(20,12)").as("term"))
        .groupBy(col("dst")).agg(sum(col("term")).as("c"))
      r = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(BigDecimal("0.006")).cast("decimal(20,12)") +
            coalesce(col("c"), decZero)).as("r"))
    }
    graft.operators.CacheOps.finalized(
      r.select(col("node").as("n_nationkey"),
          round(col("r").cast("double"), 6).as("pagerank"))
        .orderBy(col("n_nationkey")),
      edges)
  }

  val pagerankOracle: String = {
    def iter(i: Int, prev: String): String =
      s"""c$i AS (SELECT e.dst AS node,
         |    SUM(CAST(round(CAST(p.r AS DOUBLE) * CAST(e.w AS DOUBLE)
         |      / CAST(o.wtot AS DOUBLE) * 0.85, 12) AS DECIMAL(20,12))) AS c
         |  FROM edges e JOIN $prev p ON p.node = e.src
         |  JOIN outw o ON o.node = e.src GROUP BY 1),
         |r$i AS (SELECT n.n_nationkey AS node,
         |    CAST(0.006 AS DECIMAL(20,12)) +
         |      COALESCE(c$i.c, CAST(0 AS DECIMAL(20,12))) AS r
         |  FROM nation n LEFT JOIN c$i ON c$i.node = n.n_nationkey)""".stripMargin
    s"""WITH base AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
       |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey),
       |edges AS (SELECT src, dst, count(*) AS w FROM base GROUP BY 1, 2),
       |outw AS (SELECT src AS node, sum(w) AS wtot FROM edges GROUP BY 1),
       |r0 AS (SELECT n_nationkey AS node, CAST(0.04 AS DECIMAL(20,12)) AS r
       |       FROM nation),
       |${iter(1, "r0")},
       |${iter(2, "r1")},
       |${iter(3, "r2")}
       |SELECT node AS n_nationkey, round(CAST(r AS DOUBLE), 6) AS pagerank
       |FROM r3 ORDER BY node""".stripMargin
  }

  /** q_outlier_iqr — Tukey-fence anomaly detection: events whose
    * `value` falls outside [q1 - 1.5·IQR, q3 + 1.5·IQR] of their
    * event_type, with the quartiles as exact order statistics
    * (rank ceil(q·n)). Both engines phrase the quartile identically
    * (the oracle via row_number + CASE; Spark reads the same order
    * statistic off the contracted (type, value) grid: the value at
    * rank r in (value, event_id) order is the smallest value whose
    * cumulative count reaches r — tie-break-free, since tied rows
    * share a grid cell). The grid's cumulative count runs through the
    * partitioned distributed prefix
    * ([[graft.operators.PrefixOps.groupedCumCounts]]) instead of a
    * window partitioned by the ~5-value event_type, so no task ever
    * sorts ~n/5 of the fact table; the 5-row bounds table broadcasts
    * back onto the fact. */
  def outlierIqr(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val grid = graft.operators.PrefixOps.groupedCumCounts(
      e.select(col("event_type"), col("value")), Seq("event_type"), "value")
    val q = grid.groupBy(col("event_type")).agg(
      min(when(col("cum") >= ceil(lit(0.25) * col("n").cast("double")).cast("long"),
        col("value"))).as("q1"),
      min(when(col("cum") >= ceil(lit(0.75) * col("n").cast("double")).cast("long"),
        col("value"))).as("q3"))
    e.join(broadcast(q), "event_type")
      .filter(col("value") > col("q3") + lit(1.5) * (col("q3") - col("q1")) ||
        col("value") < col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 4).as("lo"),
        round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 4).as("hi"))
      .orderBy(col("event_id"))
  }

  val outlierIqrOracle: String =
    """WITH ranked AS (
      |  SELECT event_id, event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |q AS (SELECT event_type,
      |    min(CASE WHEN rn = CAST(ceil(0.25*CAST(n AS DOUBLE)) AS BIGINT)
      |        THEN value END) AS q1,
      |    min(CASE WHEN rn = CAST(ceil(0.75*CAST(n AS DOUBLE)) AS BIGINT)
      |        THEN value END) AS q3
      |  FROM ranked GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.value,
      |  round(q1 - 1.5*(q3-q1), 4) AS lo, round(q3 + 1.5*(q3-q1), 4) AS hi
      |FROM events e JOIN q ON q.event_type = e.event_type
      |WHERE e.value > q3 + 1.5*(q3-q1) OR e.value < q1 - 1.5*(q3-q1)
      |ORDER BY e.event_id""".stripMargin

  /** q_rolling_median — median of l_quantity over the trailing
    * 5-row frame per supplier (robust smoothing — the window
    * counterpart of q_percentile_disc). Spark has no median window
    * function: collect the ≤5-element frame, sort, and take the exact
    * middle (avg of the two middles for even frames — identical to
    * DuckDB's interpolated median on these integer-valued doubles).
    * The frame list is bounded (5), so state per row is O(1) and the
    * window partitions on the natural supplier key.
    *
    * Tie-break note: (l_orderkey, l_linenumber) is NOT unique in this
    * synthetic lineitem (~20% of rows share a key — profiled), so a
    * ROWS frame ordered by it alone is engine-nondeterministic.
    * Adding l_quantity to the ORDER BY makes the quantity SEQUENCE
    * deterministic (remaining ties have equal quantity, so any
    * permutation yields the same frames), which is all the median
    * depends on. */
  def rollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .rowsBetween(-4, Window.currentRow)
    val sz = size(col("frame"))
    // Column `/` is double division — element_at needs INT; the casts
    // are exact (frame size ≤ 5)
    val mid = ((sz + 1) / 2).cast("int")
    val lo = (sz / 2).cast("int")
    lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .withColumn("frame", array_sort(collect_list(col("l_quantity")).over(w)))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        when(sz % 2 === 1, element_at(col("frame"), mid))
          .otherwise((element_at(col("frame"), lo) +
            element_at(col("frame"), lo + 1)) / lit(2.0)).as("med"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("med"))
  }

  val rollingMedianOracle: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  median(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med
      |FROM lineitem
      |ORDER BY l_suppkey, l_orderkey, l_linenumber, med""".stripMargin

  /** q_ewma — exponentially-weighted moving average (α=1/2, last 10
    * observations) of event value per user, time-ordered. Expressed
    * as ten lag() terms — a pure window projection, no self-join and
    * no O(n²) blow-up; weights 2^-j are exact in binary AND in
    * decimal, so each term rounds identically in both engines before
    * the exact DECIMAL sum. */
  def ewma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
    val decT = "decimal(18,10)"
    val zero = lit(BigDecimal(0)).cast(decT)
    val terms: Seq[(Column, Column)] = (0 to 9).map { j =>
      val lagv = lag(col("value"), j).over(w)
      val wj = lit(math.pow(0.5, j))
      (coalesce(round(lagv * wj, 10).cast(decT), zero),
        when(lagv.isNotNull, round(wj, 10).cast(decT)).otherwise(zero))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts2"), col("value"))
      .withColumn("ewma",
        round(num.cast("double") / den.cast("double"), 4))
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"),
        col("ewma"))
      .orderBy(col("event_id"))
  }

  val ewmaOracle: String = {
    val terms = (0 to 9).map { j =>
      val wj = java.math.BigDecimal.valueOf(math.pow(0.5, j)).toPlainString
      (s"COALESCE(CAST(round(lag(value, $j) OVER w * $wj, 10) AS DECIMAL(18,10)), CAST(0 AS DECIMAL(18,10)))",
        s"CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN CAST(round($wj, 10) AS DECIMAL(18,10)) ELSE CAST(0 AS DECIMAL(18,10)) END")
    }
    val num = terms.map(_._1).mkString(" + ")
    val den = terms.map(_._2).mkString(" + ")
    s"""SELECT event_id, user_id, round(value, 2) AS value,
       |  round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 4) AS ewma
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY event_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25" -> (bm25 _),
    "q_pagerank" -> (pagerank _),
    "q_outlier_iqr" -> (outlierIqr _),
    "q_rolling_median" -> (rollingMedian _),
    "q_ewma" -> (ewma _))

  val oracle: Map[String, String] = Map(
    "q_bm25" -> bm25Oracle,
    "q_pagerank" -> pagerankOracle,
    "q_outlier_iqr" -> outlierIqrOracle,
    "q_rolling_median" -> rollingMedianOracle,
    "q_ewma" -> ewmaOracle)
}
