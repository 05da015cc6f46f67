package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #121: the partition-planning advisor — the
  * operational report a 100 TB deployment derives its job configs
  * from: per table, the row count, estimated on-disk bytes (rows ×
  * fixed per-table row-width constants — the widths a catalog would
  * supply), the recommended scan parallelism at the 128 MB
  * maxPartitionBytes default, and the power-of-two bucket count that
  * keeps co-located join buckets under 1 GB. A governance companion
  * to q_skew_report and q_join_skew: those diagnose the shuffle, this
  * PRESCRIBES the layout.
  *
  * Scale notes: five independent count aggregates unioned — the
  * advisor costs one metadata-light pass per table (at real scale
  * these counts come from catalog stats; the math is unchanged).
  *
  * Determinism: counts exact; byte estimates are integer products of
  * literal widths; ceil/log2 on exact doubles. */
object OpsPlanQueries extends QueryFamily {

  // estimated serialized row widths (bytes) — fixed catalog constants
  private val widths = Seq(
    ("lineitem", 96L), ("orders", 72L), ("customer", 64L),
    ("part", 72L), ("events", 88L))

  /** q_shard_plan — rows, bytes, scan partitions at 128 MB, and the
    * power-of-two bucket count keeping buckets ≤ 1 GB. */
  def shardPlan(s: SparkSession, d: String): DataFrame = {
    def planOf(name: String, df: DataFrame, w: Long): DataFrame =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(name).as("tbl"), col("n_rows"),
          (col("n_rows") * w).as("est_bytes"))
        .select(col("tbl"), col("n_rows"), col("est_bytes"),
          greatest(lit(1L), ceil(col("est_bytes").cast("double")
            / lit(134217728.0)).cast("long")).as("scan_partitions"),
          greatest(lit(1L), pow(lit(2.0),
            ceil(round(log2(greatest(lit(1.0),
              col("est_bytes").cast("double") / lit(1073741824.0))),
              10))).cast("long")).as("bucket_count"))
    widths.map { case (n, w) =>
      planOf(n, table(s, d, n), w)
    }.reduce(_ unionByName _).orderBy(col("tbl"))
  }

  val shardPlanOracle: String = {
    val rows = widths.map { case (n, w) =>
      s"""SELECT '$n' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*)*$w AS BIGINT) AS est_bytes,
         |  greatest(1, CAST(ceil(CAST(count(*)*$w AS DOUBLE)
         |    /134217728.0) AS BIGINT)) AS scan_partitions,
         |  greatest(1, CAST(pow(2.0,
         |    ceil(round(log2(greatest(1.0,
         |      CAST(count(*)*$w AS DOUBLE)/1073741824.0)), 10)))
         |    AS BIGINT)) AS bucket_count
         |FROM $n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM ($rows) t ORDER BY tbl""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shard_plan" -> (shardPlan _))

  val oracle: Map[String, String] = Map(
    "q_shard_plan" -> shardPlanOracle)
}
