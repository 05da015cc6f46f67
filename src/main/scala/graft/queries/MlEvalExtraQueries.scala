package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #41: model-evaluation completions — average
  * precision (PR-AUC's exact discrete form, the metric that matters
  * under class imbalance where q_auc's ROC flatters) and decision-
  * stump information gain (the split-evaluation primitive inside
  * every tree learner's feature ranking).
  *
  * Scale notes (100 TB): AP contracts to per-distinct-score counts
  * and derives the DESCENDING running sums from the ascending
  * distributed prefix ([[graft.operators.PrefixOps]]) — no global
  * sort, no per-row window; stump gain is one keyed count aggregate
  * per candidate feature with a broadcast 1-row parent.
  *
  * Determinism: counts exact; precision terms round to 10dp before
  * the DECIMAL reduction; gains on exact-count ratios, rounded.
  */
object MlEvalExtraQueries extends QueryFamily {

  /** q_avg_precision — exact average precision of `value` as the
    * score for predicting purchases: AP = Σ_v ΔTP(v)·P(v) / |pos|
    * over distinct scores descending, ties folded into their
    * threshold group (the standard grouped-threshold AP). */
  def avgPrecision(s: SparkSession, d: String): DataFrame = {
    val byVal = events(s, d).select(col("event_type"), col("value"))
      .groupBy(col("value")).agg(
        count(lit(1)).as("cnt"),
        count(when(col("event_type") === "purchase", lit(1))).as("pos"))
    val cum = graft.operators.PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")),
      Seq("ccnt" -> col("cnt"), "cpos" -> col("pos")))
    val tot = byVal.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("np"))
    // descending cumulative = total − ascending cumulative + own group
    val scored = cum.crossJoin(broadcast(tot))
      .withColumn("cn_desc", col("n") - col("ccnt") + col("cnt"))
      .withColumn("cp_desc", col("np") - col("cpos") + col("pos"))
      .withColumn("term",
        (round(col("cp_desc").cast("double") / col("cn_desc").cast("double"),
          10) * col("pos")).cast("decimal(24,10)"))
    scored.agg(max(col("n")).as("n"), max(col("np")).as("n_pos"),
        round(sum(col("term")).cast("double") /
          max(col("np")).cast("double"), 6).as("avg_precision"))
  }

  val avgPrecisionOracle: String =
    """WITH byval AS (SELECT value, count(*) AS cnt,
      |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS pos
      |  FROM events GROUP BY 1),
      |c AS (SELECT value, cnt, pos,
      |    sum(cnt) OVER w AS cn_desc,
      |    sum(pos) OVER w AS cp_desc
      |  FROM byval
      |  WINDOW w AS (ORDER BY value DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(sum(pos) AS BIGINT) AS np FROM byval)
      |SELECT tot.n, tot.np AS n_pos,
      |  round(CAST(sum(CAST(
      |    round(CAST(cp_desc AS DOUBLE)/CAST(cn_desc AS DOUBLE), 10) * pos
      |    AS DECIMAL(24,10))) AS DOUBLE) / CAST(tot.np AS DOUBLE), 6)
      |    AS avg_precision
      |FROM c CROSS JOIN tot GROUP BY tot.n, tot.np""".stripMargin

  /** q_stump_gain — Gini information gain of three candidate stump
    * features (event type, weekend flag, 6-hour bucket) for the
    * binary target `value above the global mean`: parent impurity vs
    * the count-weighted impurity after the split — the feature-
    * ranking table of a tree learner's first pass. */
  def stumpGain(s: SparkSession, d: String): DataFrame = {
    val meanDf = events(s, d).agg(
      round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double"), 4).as("mu"))
    // 4 narrow columns referenced by the parent fold + one branch per
    // candidate feature — materialize once (round-8 scan gate: was 12
    // events scans; one cached projection beats 4 re-reads at any SF)
    import graft.operators.CacheOps.CheckpointSyntax
    val base = events(s, d).crossJoin(broadcast(meanDf))
      .select(col("event_type"),
        date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday")
          .cast("string").as("weekend"),
        (hour(col("ts2")) / lit(6)).cast("int").cast("string").as("hour_bucket"),
        (col("value") > col("mu")).as("y"))
      .truncatedCheckpoint()
    val parent = base.agg(count(lit(1)).as("n"),
      count(when(col("y"), lit(1))).as("pos"))
    def gini(n: Column, pos: Column): Column = {
      val p = pos.cast("double") / n.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    def forFeature(fname: String): DataFrame = {
      val g = base.groupBy(col(fname).as("grp"))
        .agg(count(lit(1)).as("ng"),
          count(when(col("y"), lit(1))).as("posg"))
      g.crossJoin(broadcast(parent))
        .select(lit(fname).as("feature"), col("n"), col("pos"),
          round(gini(col("ng"), col("posg")) *
            col("ng").cast("double"), 6).cast("decimal(24,6)").as("term"))
        .groupBy(col("feature"))
        .agg(count(lit(1)).as("n_groups"),
          round(gini(max(col("n")), max(col("pos"))), 6).as("gini_parent"),
          round(sum(col("term")).cast("double") /
            max(col("n")).cast("double"), 6).as("gini_split"))
        .withColumn("gain",
          round(col("gini_parent") - col("gini_split"), 6))
    }
    forFeature("event_type")
      .unionAll(forFeature("weekend"))
      .unionAll(forFeature("hour_bucket"))
      .orderBy(col("feature"))
  }

  val stumpGainOracle: String = {
    def leg(fname: String, expr: String): String =
      s"""SELECT '$fname' AS feature, count(*) AS n_groups,
        |  round(1.0 - (CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE))
        |      *(CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE))
        |    - (1.0 - CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE))
        |      *(1.0 - CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE)), 6)
        |    AS gini_parent,
        |  round(CAST(sum(term) AS DOUBLE)/CAST(max(n) AS DOUBLE), 6)
        |    AS gini_split,
        |  round(
        |    round(1.0 - (CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE))
        |        *(CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE))
        |      - (1.0 - CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE))
        |        *(1.0 - CAST(max(pos) AS DOUBLE)/CAST(max(n) AS DOUBLE)), 6)
        |    - round(CAST(sum(term) AS DOUBLE)/CAST(max(n) AS DOUBLE), 6),
        |    6) AS gain
        |FROM (SELECT
        |    CAST(round((1.0 - (CAST(posg AS DOUBLE)/CAST(ng AS DOUBLE))
        |        *(CAST(posg AS DOUBLE)/CAST(ng AS DOUBLE))
        |      - (1.0 - CAST(posg AS DOUBLE)/CAST(ng AS DOUBLE))
        |        *(1.0 - CAST(posg AS DOUBLE)/CAST(ng AS DOUBLE)))
        |      * CAST(ng AS DOUBLE), 6) AS DECIMAL(24,6)) AS term,
        |    p.n, p.pos
        |  FROM (SELECT $expr AS grp, count(*) AS ng,
        |      count(CASE WHEN y THEN 1 END) AS posg
        |    FROM base GROUP BY 1) g
        |  CROSS JOIN parent p) t""".stripMargin
    s"""WITH mu AS (SELECT
      |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 4) AS mu
      |  FROM events),
      |base AS (SELECT event_type,
      |    CAST(dayname(ts) IN ('Saturday','Sunday') AS VARCHAR) AS weekend,
      |    CAST(hour(ts) // 6 AS VARCHAR) AS hour_bucket,
      |    value > mu.mu AS y
      |  FROM events CROSS JOIN mu),
      |parent AS (SELECT count(*) AS n,
      |    count(CASE WHEN y THEN 1 END) AS pos FROM base)
      |${leg("event_type", "event_type")}
      |UNION ALL
      |${leg("weekend", "weekend")}
      |UNION ALL
      |${leg("hour_bucket", "hour_bucket")}
      |ORDER BY feature""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_avg_precision" -> (avgPrecision _),
    "q_stump_gain" -> (stumpGain _))

  val oracle: Map[String, String] = Map(
    "q_avg_precision" -> avgPrecisionOracle,
    "q_stump_gain" -> stumpGainOracle)
}
