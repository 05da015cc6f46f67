package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #117: mutual-information feature ranking — the
  * filter-method feature selector a training pipeline runs before
  * fitting anything: I(feature; label) for four candidate
  * discretized features against the purchase label, ranked. The
  * q_mutual_info machinery generalized to a COMPARATIVE panel in one
  * query: each feature is an independent (feature-value, label)
  * contraction, the four MI folds union into the ranked report.
  *
  * Scale notes (100 TB): per feature one keyed contraction to a
  * bounded (values × 2) grid and constant-size ln algebra; the four
  * features share the single source scan per branch. Normalized MI
  * (I/H(label)) is reported so features compare on one scale.
  *
  * Determinism (D1–D5): cell counts exact; probabilities are
  * exact-count ratios rounded at 10dp before the house ln; MI terms
  * at 8dp into decimal sums; outputs 6dp with the feature name as
  * tiebreak. */
object FeatureSelectQueries extends QueryFamily {

  /** q_mi_ranking — I(feature; purchase) for weekday, hour-of-day
    * band, value decile band, and user-id parity.
    *
    * Scale shape (round-7): ONE fact scan, not four — the events
    * table contracts once to the joint (weekday × hourband × valband
    * × usermod × label) grid (≤ 7·4·10·4·2 = 2240 cells at any SF,
    * lazily checkpointed), and each feature's (value, label) cell
    * counts are exact long sums over that grid. The previous form
    * re-scanned events per feature — 4× the I/O at 100 TB for the
    * identical counts. */
  def miRanking(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(
      (col("event_type") === "purchase").cast("int").as("lab"),
      dayofweek(to_date(col("ts2"))).as("f_weekday"),
      floor(hour(col("ts2")) / 6.0).cast("int").as("f_hourband"),
      least(lit(9), floor(col("value") / 10.0).cast("int"))
        .as("f_valband"),
      (col("user_id") % 4).cast("int").as("f_usermod"))
    // the checkpoint IS load-bearing: without it the four feature
    // branches re-optimize separately and ReuseExchange does NOT
    // collapse the grid copies (census-measured: events=8 scans
    // checkpoint-free vs 1 with it), and solo timings are equal
    // either way (17-18 s cold at sf0.1) — the barrier costs nothing
    // measurable while the single scan is the 100 TB I/O story
    import graft.operators.CacheOps.CheckpointSyntax
    val grid = base.groupBy(col("f_weekday"), col("f_hourband"),
        col("f_valband"), col("f_usermod"), col("lab"))
      .agg(count(lit(1)).as("c0")).truncatedCheckpoint()
    def f(c: Column) = c.cast("double")
    def miOf(fc: String): DataFrame = {
      val cells = grid.groupBy(col(fc).as("v"), col("lab"))
        .agg(sum(col("c0")).as("c"))
      val mv = cells.groupBy(col("v")).agg(sum(col("c")).as("cv"))
      val ml = cells.groupBy(col("lab")).agg(sum(col("c")).as("cl"))
      val n = cells.agg(sum(col("c")).as("n"))
      val mi = cells.join(mv, "v").join(broadcast(ml), "lab")
        .crossJoin(broadcast(n))
        .select(round(f(col("c")) / f(col("n"))
          * log(round(f(col("c")) * f(col("n"))
            / (f(col("cv")) * f(col("cl"))), 10)), 8)
          .cast("decimal(18,8)").as("term"))
        .agg(round(sum(col("term")).cast("double"), 6).as("mi"))
      val hl = ml.crossJoin(broadcast(n))
        .select(round(-(f(col("cl")) / f(col("n")))
          * log(round(f(col("cl")) / f(col("n")), 10)), 8)
          .cast("decimal(18,8)").as("term"))
        .agg(round(sum(col("term")).cast("double"), 8).as("h_label"))
      mi.crossJoin(broadcast(hl))
        .select(lit(fc).as("feature"), col("mi"),
          round(col("mi") / col("h_label"), 6).as("nmi"))
    }
    Seq("f_weekday", "f_hourband", "f_valband", "f_usermod")
      .map(miOf).reduce(_ unionByName _)
      .orderBy(col("nmi").desc, col("feature"))
  }

  val miRankingOracle: String = {
    def miSql(fc: String, expr: String): String =
      s"""SELECT '$fc' AS feature, mi,
         |  round(mi/h_label, 6) AS nmi
         |FROM (SELECT round(CAST(sum(CAST(round(CAST(c AS DOUBLE)
         |      /CAST(n AS DOUBLE)
         |      *ln(round(CAST(c AS DOUBLE)*CAST(n AS DOUBLE)
         |        /(CAST(cv AS DOUBLE)*CAST(cl AS DOUBLE)), 10)), 8)
         |      AS DECIMAL(18,8))) AS DOUBLE), 6) AS mi
         |  FROM (SELECT $expr AS v,
         |      CAST(event_type = 'purchase' AS INT) AS lab,
         |      CAST(count(*) AS BIGINT) AS c
         |    FROM events GROUP BY 1, 2) cells
         |  JOIN (SELECT $expr AS v, CAST(count(*) AS BIGINT) AS cv
         |    FROM events GROUP BY 1) mv USING (v)
         |  JOIN (SELECT CAST(event_type = 'purchase' AS INT) AS lab,
         |      CAST(count(*) AS BIGINT) AS cl
         |    FROM events GROUP BY 1) ml USING (lab),
         |    (SELECT CAST(count(*) AS BIGINT) AS n FROM events) nn) m,
         |  (SELECT round(CAST(sum(CAST(round(-(CAST(cl AS DOUBLE)
         |      /CAST(n AS DOUBLE))
         |      *ln(round(CAST(cl AS DOUBLE)/CAST(n AS DOUBLE), 10)), 8)
         |      AS DECIMAL(18,8))) AS DOUBLE), 8) AS h_label
         |  FROM (SELECT CAST(event_type = 'purchase' AS INT) AS lab,
         |      CAST(count(*) AS BIGINT) AS cl
         |    FROM events GROUP BY 1) l,
         |    (SELECT CAST(count(*) AS BIGINT) AS n FROM events) nn2) h""".stripMargin
    val rows = Seq(
      ("f_weekday", "dayofweek(CAST(ts AS DATE)) + 1"),
      ("f_hourband", "CAST(floor(hour(ts)/6.0) AS INT)"),
      ("f_valband", "least(9, CAST(floor(value/10.0) AS INT))"),
      ("f_usermod", "CAST(user_id % 4 AS INT)"))
      .map { case (nm, e) => miSql(nm, e) }
      .mkString("\nUNION ALL\n")
    s"""SELECT * FROM ($rows) t ORDER BY nmi DESC, feature""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mi_ranking" -> (miRanking _))

  val oracle: Map[String, String] = Map(
    "q_mi_ranking" -> miRankingOracle)
}
