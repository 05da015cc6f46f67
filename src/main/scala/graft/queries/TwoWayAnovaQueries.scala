package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #106: two-way ANOVA with interaction — does
  * event value depend on type, on weekday, and on their INTERACTION
  * (the term one-way q_anova cannot see)? Classical cell-means
  * decomposition on the bounded |types|×7 grid: SS_cells splits into
  * SS_A + SS_B + SS_AB, SS_within = SS_total − SS_cells, with F
  * ratios against the within mean square. (Unbalanced cells use the
  * weighted Type-I decomposition — documented, exact given the cell
  * contraction.)
  *
  * Scale notes (100 TB): ONE keyed pass contracts the fact to
  * |A|×|B| cells carrying exact decimal (n, Σx, Σx²); marginals,
  * grand totals, and every SS term are algebra over that grid —
  * nothing downstream scales with rows.
  *
  * Determinism (D1–D5): cell moments exact decimals; means rounded
  * at 8dp before squaring; SS terms rounded at 6dp into decimal
  * sums; F at 6dp. */
object TwoWayAnovaQueries extends QueryFamily {

  /** q_anova2 — the SS decomposition and F panel. */
  def anova2(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val cells = events(s, d).select(col("event_type").as("a"),
        dayofweek(to_date(col("ts2"))).as("b"), col("value"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"),
        sum((col("value") * col("value")).cast("decimal(27,4)")).as("svv"))
      // (a, b) moment grid feeds the grand fold + three SS branches —
      // materialize once (round-8 scan gate: was 8 events scans)
      .truncatedCheckpoint()
    def f(c: String) = col(c).cast("double")
    val tot = cells.agg(sum(col("n")).as("nn"), sum(col("sv")).as("tsv"),
        sum(col("svv")).as("tsvv"),
        countDistinct(col("a")).as("ka"),
        countDistinct(col("b")).as("kb"))
      .select(col("nn"), col("ka"), col("kb"),
        round(f("tsv") / f("nn"), 8).as("grand"),
        round(f("tsvv"), 4).as("tsvv"), round(f("tsv"), 4).as("tsv"))
    def ssOf(groups: DataFrame, keyCols: Seq[String]): DataFrame =
      groups.crossJoin(broadcast(tot))
        .select(round(f("n") * (round(f("sv") / f("n"), 8) - col("grand"))
          * (round(f("sv") / f("n"), 8) - col("grand")), 6)
          .cast("decimal(27,6)").as("term"))
        .agg(round(sum(col("term")).cast("double"), 6).as("ss"))
    val ssCells = ssOf(cells, Seq("a", "b"))
    val ssA = ssOf(cells.groupBy(col("a"))
      .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv")), Seq("a"))
    val ssB = ssOf(cells.groupBy(col("b"))
      .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv")), Seq("b"))
    val sst = tot.select(round(col("tsvv")
      - f("nn") * col("grand") * col("grand"), 6).as("ss_total"))
    ssCells.toDF("ss_cells").crossJoin(broadcast(ssA.toDF("ss_a")))
      .crossJoin(broadcast(ssB.toDF("ss_b")))
      .crossJoin(broadcast(sst)).crossJoin(broadcast(tot))
      .select(col("ka"), col("kb"), col("nn"),
        col("ss_a"), col("ss_b"),
        round(col("ss_cells") - col("ss_a") - col("ss_b"), 6).as("ss_ab"),
        round(col("ss_total") - col("ss_cells"), 6).as("ss_within"))
      .select(col("ka"), col("kb"), col("nn"), col("ss_a"), col("ss_b"),
        col("ss_ab"), col("ss_within"),
        round((col("ss_a") / (f("ka") - lit(1.0)))
          / (col("ss_within") / (f("nn") - f("ka") * f("kb"))), 6)
          .as("f_a"),
        round((col("ss_b") / (f("kb") - lit(1.0)))
          / (col("ss_within") / (f("nn") - f("ka") * f("kb"))), 6)
          .as("f_b"),
        round((col("ss_ab") / ((f("ka") - lit(1.0)) * (f("kb") - lit(1.0))))
          / (col("ss_within") / (f("nn") - f("ka") * f("kb"))), 6)
          .as("f_ab"))
  }

  val anova2Oracle: String =
    """WITH cells AS (SELECT event_type AS a,
      |    dayofweek(CAST(ts AS DATE)) + 1 AS b,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(value AS DECIMAL(18,2))) AS sv,
      |    sum(CAST(value*value AS DECIMAL(27,4))) AS svv
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |    CAST(count(DISTINCT a) AS BIGINT) AS ka,
      |    CAST(count(DISTINCT b) AS BIGINT) AS kb,
      |    round(CAST(sum(sv) AS DOUBLE)/CAST(sum(n) AS DOUBLE), 8)
      |      AS grand,
      |    round(CAST(sum(svv) AS DOUBLE), 4) AS tsvv
      |  FROM cells),
      |ssc AS (SELECT round(CAST(sum(CAST(round(CAST(n AS DOUBLE)
      |      *(round(CAST(sv AS DOUBLE)/CAST(n AS DOUBLE), 8) - grand)
      |      *(round(CAST(sv AS DOUBLE)/CAST(n AS DOUBLE), 8) - grand),
      |      6) AS DECIMAL(27,6))) AS DOUBLE), 6) AS ss_cells
      |  FROM cells, tot),
      |ma AS (SELECT a, CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv
      |  FROM cells GROUP BY a),
      |ssa AS (SELECT round(CAST(sum(CAST(round(CAST(n AS DOUBLE)
      |      *(round(CAST(sv AS DOUBLE)/CAST(n AS DOUBLE), 8) - grand)
      |      *(round(CAST(sv AS DOUBLE)/CAST(n AS DOUBLE), 8) - grand),
      |      6) AS DECIMAL(27,6))) AS DOUBLE), 6) AS ss_a
      |  FROM ma, tot),
      |mb AS (SELECT b, CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv
      |  FROM cells GROUP BY b),
      |ssb AS (SELECT round(CAST(sum(CAST(round(CAST(n AS DOUBLE)
      |      *(round(CAST(sv AS DOUBLE)/CAST(n AS DOUBLE), 8) - grand)
      |      *(round(CAST(sv AS DOUBLE)/CAST(n AS DOUBLE), 8) - grand),
      |      6) AS DECIMAL(27,6))) AS DOUBLE), 6) AS ss_b
      |  FROM mb, tot),
      |sst AS (SELECT round(tsvv
      |    - CAST(nn AS DOUBLE)*grand*grand, 6) AS ss_total FROM tot)
      |SELECT ka, kb, nn, ss_a, ss_b,
      |  round(ss_cells - ss_a - ss_b, 6) AS ss_ab,
      |  round(ss_total - ss_cells, 6) AS ss_within,
      |  round((ss_a/(CAST(ka AS DOUBLE) - 1.0))
      |    /(round(ss_total - ss_cells, 6)
      |      /(CAST(nn AS DOUBLE) - CAST(ka AS DOUBLE)
      |        *CAST(kb AS DOUBLE))), 6) AS f_a,
      |  round((ss_b/(CAST(kb AS DOUBLE) - 1.0))
      |    /(round(ss_total - ss_cells, 6)
      |      /(CAST(nn AS DOUBLE) - CAST(ka AS DOUBLE)
      |        *CAST(kb AS DOUBLE))), 6) AS f_b,
      |  round((round(ss_cells - ss_a - ss_b, 6)
      |      /((CAST(ka AS DOUBLE) - 1.0)*(CAST(kb AS DOUBLE) - 1.0)))
      |    /(round(ss_total - ss_cells, 6)
      |      /(CAST(nn AS DOUBLE) - CAST(ka AS DOUBLE)
      |        *CAST(kb AS DOUBLE))), 6) AS f_ab
      |FROM ssc, ssa, ssb, sst, tot""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_anova2" -> (anova2 _))

  val oracle: Map[String, String] = Map(
    "q_anova2" -> anova2Oracle)
}
