package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.expressions.HistFixed

/** Round-4 widening #85: fixed-bin histograms through the custom
  * [[HistFixed]] TypedImperativeAggregate — the vector-state
  * aggregation graded EXACTLY against the relational
  * bin-and-count oracle, proving the single-pass mergeable-array
  * plan computes the identical distribution the groupBy-bin idiom
  * does.
  *
  * Scale notes (100 TB): the relational form shuffles one row per
  * (group, bin) and assembles the vector in a second pass; the
  * aggregate's buffer IS the vector, so map-side partials reduce
  * each (mapper, group) to one bins-long array and the merge is an
  * order-independent vector add. See HistFixedSpec for the
  * two-phase plan assertion.
  */
object HistAggQueries extends QueryFamily {

  /** q_hist_agg — per event type, the 20-bin histogram of `value`
    * over [0, 100) (edges clamped), exploded back to
    * (bin, count) rows beside the row total. */
  def histAgg(s: SparkSession, d: String): DataFrame = {
    val h = events(s, d).groupBy(col("event_type"))
      .agg(HistFixed.hist(col("value"), 0.0, 100.0, 20).as("h"),
        count(lit(1)).as("n"))
    h.select(col("event_type"), col("n"),
        posexplode(col("h")).as(Seq("bin", "cnt")))
      .orderBy(col("event_type"), col("bin"))
  }

  val histAggOracle: String =
    """WITH binned AS (SELECT event_type,
      |    least(greatest(CAST(floor((value - 0.0)*20.0/(100.0 - 0.0))
      |      AS INT), 0), 19) AS bin
      |  FROM events),
      |cnts AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
      |  FROM binned GROUP BY 1, 2),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |grid AS (SELECT event_type, n, CAST(r.bin AS INT) AS bin
      |  FROM n CROSS JOIN range(0, 20) r(bin))
      |SELECT grid.event_type, n, grid.bin,
      |  COALESCE(c, 0) AS cnt
      |FROM grid LEFT JOIN cnts ON cnts.event_type = grid.event_type
      |  AND cnts.bin = grid.bin
      |ORDER BY grid.event_type, grid.bin""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hist_agg" -> (histAgg _))

  val oracle: Map[String, String] = Map(
    "q_hist_agg" -> histAggOracle)
}
