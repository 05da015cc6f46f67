package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #17: distribution utilities — min-max feature
  * scaling (the [0,1] normalizer complementing q_zscore's
  * standardization) and empirical-CDF probes at fixed points.
  *
  * Scale notes (100 TB): both contract the fact table with one keyed
  * aggregate; the scaler re-joins the |groups|-row bounds by
  * broadcast. All counts exact; ratios engine-identical and rounded.
  */
object DistributionQueries extends QueryFamily {

  /** q_minmax_norm — per event_type min-max scaling of `value` into
    * [0,1]; emits per-type bounds and the normalized mean (which
    * equals (mean−min)/(max−min) — asserted by the oracle equality
    * itself). Sample rows keep the output bounded: the 3 smallest
    * event_ids per type with their normalized values — selected with
    * the k-bounded [[graft.functions.expressions.TopKStruct]]
    * aggregate (map-side partials carry ≤3 rows per type; largest
    * under the negated id = smallest ids), NOT a row_number window
    * partitioned by the ~5-value event_type, which would sort ~n/5 of
    * the fact table per task at scale just to pick 3 rows. */
  def minmaxNorm(s: SparkSession, d: String): DataFrame = {
    // ONE events scan (round-7): the per-type bounds and the 3
    // smallest event_ids fold into a single aggregate — the TopKStruct
    // member carries `value` along (a trailing struct field after the
    // unique neg_id never changes the selection), so the previous
    // third scan (join-back to fetch value) disappears with its
    // broadcast join
    val g = events(s, d).groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
        graft.functions.expressions.TopKStruct.topK(
          struct((-col("event_id")).as("neg_id"),
            col("event_id").as("event_id"),
            col("value").as("value")), 3).as("arr"))
    g.select(col("event_type"), col("lo"), col("hi"),
        posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("event_type"),
        (col("pos") + 1).cast("int").as("rk"),
        col("s.event_id").as("event_id"),
        round(col("s.value"), 2).as("value"),
        round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"),
        round((col("s.value") - col("lo")) / (col("hi") - col("lo")), 6)
          .as("x01"))
      .orderBy(col("event_type"), col("rk"))
  }

  val minmaxNormOracle: String =
    """WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi
      |  FROM events GROUP BY 1),
      |j AS (SELECT e.event_type, e.event_id, e.value, b.lo, b.hi,
      |    round((e.value - b.lo)/(b.hi - b.lo), 6) AS x01,
      |    row_number() OVER (PARTITION BY e.event_type
      |      ORDER BY e.event_id) AS rk
      |  FROM events e JOIN b ON b.event_type = e.event_type)
      |SELECT event_type, rk, event_id, round(value, 2) AS value,
      |  round(lo, 2) AS lo, round(hi, 2) AS hi, x01
      |FROM j WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin

  /** q_cdf — empirical CDF of `value` probed at fixed points per
    * event_type: F(x) = #{v ≤ x}/n — the exact distribution summary
    * a drift monitor compares across periods (KS distance is the max
    * gap between two of these). */
  def cdf(s: SparkSession, d: String): DataFrame = {
    val probes = Seq(50.0, 100.0, 200.0, 300.0, 400.0)
    val probeCols = probes.map(p =>
      round(count(when(col("value") <= p, lit(1))).cast("double") /
        count(lit(1)).cast("double"), 4).as(s"f_${p.toInt}"))
    val aggCols = count(lit(1)).as("n") +: probeCols
    events(s, d).groupBy(col("event_type"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(col("event_type"))
  }

  val cdfOracle: String = {
    val probes = Seq(50, 100, 200, 300, 400)
    val cols = probes.map(p =>
      s"""round(CAST(count(CASE WHEN value <= $p.0 THEN 1 END) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 4) AS f_$p""".stripMargin).mkString(",\n")
    s"""SELECT event_type, count(*) AS n,
       |$cols
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_minmax_norm" -> (minmaxNorm _),
    "q_cdf" -> (cdf _))

  val oracle: Map[String, String] = Map(
    "q_minmax_norm" -> minmaxNormOracle,
    "q_cdf" -> cdfOracle)
}
