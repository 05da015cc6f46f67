package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening: CDC MERGE-apply — the full upsert/delete merge
  * of a compacted changelog into a base table (the lakehouse `MERGE
  * INTO` semantics), complementing [[PipelineQueries]]' q_dedup_latest
  * which grades only the latest-wins compaction half.
  *
  * The changelog is derived from the events stream: op = I for
  * `signup`, D for `error`, U otherwise; the CDC key widens the user
  * key space (`user_id * 13`) so the changelog exercises BOTH merge
  * branches (matched update/delete AND unmatched insert) at every
  * scale factor — without the widening every sf's user ids land
  * inside the customer key range and the insert path would go
  * ungraded.
  *
  * Scale notes (100 TB): compaction is a per-key max-struct
  * aggregation — map-side combinable, one shuffle on the CDC key, no
  * windows (the argmax-struct idiom beats row_number here because the
  * combiner collapses each key before the shuffle). The merge itself
  * is one full-outer shuffle join between base and the compacted log
  * — exactly the join a lakehouse MERGE compiles to; at 100 TB both
  * sides hash-partition on the key and AQE handles skew. Determinism:
  * (ts2, event_id) is a unique total order so the struct max picks
  * one defined row; all values pass through unaggregated except the
  * stats query's exact decimal sums.
  */
object CdcMergeQueries extends QueryFamily {

  private val caseOp: Column =
    when(col("event_type") === "signup", lit("I"))
      .when(col("event_type") === "error", lit("D"))
      .otherwise(lit("U"))

  /** Base ⟗ compacted-changelog, with the action classified. */
  private def mergedFrame(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(
      col("c_custkey").cast("long").as("key"),
      col("c_name"), col("c_acctbal"))
    val latest = events(s, d)
      .select((col("user_id") * 13).cast("long").as("key"),
        struct(col("ts2"), col("event_id"), caseOp.as("op"),
          col("value")).as("ch"))
      .groupBy(col("key"))
      .agg(max(col("ch")).as("m"))
      .select(col("key"), col("m.op").as("op"), col("m.value").as("new_val"))
    base.join(latest, Seq("key"), "full_outer")
      .withColumn("action",
        when(col("op").isNull, lit("kept"))
          .when(col("op") === "D",
            when(col("c_name").isNotNull, lit("deleted_hit"))
              .otherwise(lit("deleted_noop")))
          .when(col("c_name").isNotNull, lit("updated"))
          .otherwise(lit("inserted")))
  }

  /** q_cdc_merge — the post-MERGE table state: kept rows unchanged,
    * matched I/U rows re-valued from the change, unmatched I/U rows
    * inserted with a synthesized name, D rows removed. */
  def cdcMerge(s: SparkSession, d: String): DataFrame =
    mergedFrame(s, d)
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"), col("action"),
        when(col("action") === "inserted",
          concat(lit("cdc:"), col("key").cast("string")))
          .otherwise(col("c_name")).as("name"),
        when(col("action") === "kept", col("c_acctbal"))
          .otherwise(col("new_val")).as("bal"))
      .orderBy(col("key"))

  val cdcMergeOracle: String =
    """WITH latest AS (
      |  SELECT CAST(user_id * 13 AS BIGINT) AS key,
      |    CASE event_type WHEN 'signup' THEN 'I'
      |      WHEN 'error' THEN 'D' ELSE 'U' END AS op,
      |    value AS new_val
      |  FROM events
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) = 1),
      |merged AS (
      |  SELECT CAST(COALESCE(c.c_custkey, l.key) AS BIGINT) AS key,
      |    c.c_name, c.c_acctbal, l.op, l.new_val,
      |    CASE WHEN l.op IS NULL THEN 'kept'
      |      WHEN l.op = 'D' THEN
      |        CASE WHEN c.c_name IS NOT NULL THEN 'deleted_hit'
      |          ELSE 'deleted_noop' END
      |      WHEN c.c_name IS NOT NULL THEN 'updated'
      |      ELSE 'inserted' END AS action
      |  FROM customer c FULL OUTER JOIN latest l ON l.key = c.c_custkey)
      |SELECT key, action,
      |  CASE WHEN action = 'inserted' THEN 'cdc:' || CAST(key AS VARCHAR)
      |    ELSE c_name END AS name,
      |  CASE WHEN action = 'kept' THEN c_acctbal ELSE new_val END AS bal
      |FROM merged
      |WHERE op IS NULL OR op <> 'D'
      |ORDER BY key""".stripMargin

  /** q_cdc_stats — merge-audit rollup: rows and exact-decimal balance
    * volume per action (deleted_hit carries the REMOVED base balance
    * — the audit number a CDC apply job logs). */
  def cdcStats(s: SparkSession, d: String): DataFrame =
    mergedFrame(s, d)
      .withColumn("bal_eff",
        when(col("action") === "kept" || col("action") === "deleted_hit",
          col("c_acctbal"))
          .when(col("action") === "deleted_noop", lit(null).cast("double"))
          .otherwise(col("new_val")))
      .groupBy(col("action"))
      .agg(count(lit(1)).as("n"),
        dout(sum(dec(coalesce(col("bal_eff"), lit(0.0))))).as("bal_total"))
      .orderBy(col("action"))

  val cdcStatsOracle: String =
    """WITH latest AS (
      |  SELECT CAST(user_id * 13 AS BIGINT) AS key,
      |    CASE event_type WHEN 'signup' THEN 'I'
      |      WHEN 'error' THEN 'D' ELSE 'U' END AS op,
      |    value AS new_val
      |  FROM events
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) = 1),
      |merged AS (
      |  SELECT c.c_acctbal, l.new_val,
      |    CASE WHEN l.op IS NULL THEN 'kept'
      |      WHEN l.op = 'D' THEN
      |        CASE WHEN c.c_name IS NOT NULL THEN 'deleted_hit'
      |          ELSE 'deleted_noop' END
      |      WHEN c.c_name IS NOT NULL THEN 'updated'
      |      ELSE 'inserted' END AS action
      |  FROM customer c FULL OUTER JOIN latest l ON l.key = c.c_custkey)
      |SELECT action, count(*)::BIGINT AS n,
      |  CAST(sum(CAST(COALESCE(CASE
      |      WHEN action IN ('kept', 'deleted_hit') THEN c_acctbal
      |      WHEN action = 'deleted_noop' THEN NULL
      |      ELSE new_val END, 0.0) AS DECIMAL(18,4))) AS DOUBLE)
      |    AS bal_total
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_merge" -> (cdcMerge _),
    "q_cdc_stats" -> (cdcStats _))

  val oracle: Map[String, String] = Map(
    "q_cdc_merge" -> cdcMergeOracle,
    "q_cdc_stats" -> cdcStatsOracle)
}
