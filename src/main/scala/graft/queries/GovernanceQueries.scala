package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #8: data-governance operators — SCD type-2
  * history construction from a change log, DISTINCT ON (latest row
  * per key), functional-dependency / key-uniqueness audits, and
  * referential-integrity orphan checks.
  *
  * Scale notes (100 TB): SCD2 and DISTINCT ON are per-key windows on
  * the natural partition key. The audits are keyed aggregates and
  * anti-joins — each one shuffle on the audited key, map-side
  * combinable; the outputs are audit-report-sized (rows = number of
  * checks or violating keys), never data-sized.
  */
object GovernanceQueries extends QueryFamily {

  /** q_scd2 — slowly-changing-dimension type-2 history from the event
    * log: per user, collapse consecutive same-type events, then emit
    * one versioned row per state with [valid_from, valid_to) and a
    * current flag — the standard change-data-capture → warehouse
    * dimension shape. Ties broken by event_id in both engines. */
  def scd2(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    val changes = events(s, d)
      .select(col("user_id"), col("event_type"), col("ts2"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wAll))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val wCh = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    changes
      .withColumn("version", row_number().over(wCh))
      .withColumn("valid_to", lead(col("ts2"), 1).over(wCh))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts2").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val scd2Oracle: String =
    """WITH ch AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |f AS (SELECT user_id, event_type, ts, event_id FROM ch
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |v AS (SELECT user_id, event_type, ts AS valid_from,
      |    row_number() OVER w AS version,
      |    lead(ts, 1) OVER w AS valid_to
      |  FROM f
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, version, event_type, valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  /** q_distinct_on — latest order per customer (DISTINCT ON in
    * DuckDB/Postgres; deterministic row_number in Spark — the
    * D4-compliant replacement for dropDuplicates' arbitrary row
    * choice). Fully tie-broken: (date, orderkey) descending. */
  def distinctOn(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"))
  }

  val distinctOnOracle: String =
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate,
      |  round(o_totalprice, 2) AS price
      |FROM orders
      |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""".stripMargin

  /** q_fd_violations — key-candidate uniqueness audit: for each
    * proposed key, how many key values occur more than once, the
    * worst multiplicity, and how many excess rows a dedup would drop.
    * (l_orderkey, l_linenumber) is NOT unique in this synthetic
    * lineitem — the audit that catches exactly that assumption. */
  def fdViolations(s: SparkSession, d: String): DataFrame = {
    def audit(df: DataFrame, keyName: String, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("m"))
        .agg(lit(keyName).as("key_name"),
          count(lit(1)).as("n_keys"),
          count(when(col("m") > 1, lit(1))).as("n_dup_keys"),
          max(col("m")).as("max_mult"),
          coalesce(sum(when(col("m") > 1, col("m") - 1)), lit(0L))
            .as("n_excess_rows"))
    audit(lineitem(s, d), "lineitem(l_orderkey,l_linenumber)",
        Seq("l_orderkey", "l_linenumber"))
      .unionByName(audit(orders(s, d), "orders(o_orderkey)", Seq("o_orderkey")))
      .unionByName(audit(events(s, d), "events(event_id)", Seq("event_id")))
      .orderBy(col("key_name"))
  }

  val fdViolationsOracle: String = {
    def audit(table: String, keyName: String, keys: String): String =
      s"""SELECT '$keyName' AS key_name, count(*) AS n_keys,
         |  count(CASE WHEN m > 1 THEN 1 END) AS n_dup_keys,
         |  max(m) AS max_mult,
         |  CAST(COALESCE(sum(CASE WHEN m > 1 THEN m - 1 END), 0) AS BIGINT) AS n_excess_rows
         |FROM (SELECT count(*) AS m FROM $table GROUP BY $keys)""".stripMargin
    s"""SELECT * FROM (
       |${audit("lineitem", "lineitem(l_orderkey,l_linenumber)", "l_orderkey, l_linenumber")}
       |UNION ALL
       |${audit("orders", "orders(o_orderkey)", "o_orderkey")}
       |UNION ALL
       |${audit("events", "events(event_id)", "event_id")})
       |ORDER BY key_name""".stripMargin
  }

  /** q_referential_check — orphan-foreign-key audit across the star
    * schema (anti-join per relationship; includes the documents ↔
    * embeddings link, which is intentionally NOT 1:1 at sf0.1). */
  def referentialCheck(s: SparkSession, d: String): DataFrame = {
    // One child scan per relationship (round-9; was two — a full-table
    // countDistinct AND a distinct+anti-join): the distinct-keys frame
    // left-joins the parent's distinct keys, and ONE aggregate folds
    // both outputs — count(ck) = distinct child keys (NULL-skipping,
    // matching countDistinct), unmatched rows = orphans (a NULL child
    // key matches nothing, so it counts as an orphan, exactly the
    // anti-join/NOT EXISTS semantics). Parent keys are distinct-ed so
    // a duplicated parent key can never multiply the left side. 14
    // fact scans → 9 in the plan census — at 100 TB each child table
    // is read once, not twice.
    def check(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame =
      child.select(col(ck)).distinct()
        .join(parent.select(col(pk)).distinct(),
          col(ck) === col(pk), "left")
        .agg(lit(name).as("relationship"),
          count(col(ck)).as("n_child_keys"),
          coalesce(sum(when(col(pk).isNull, 1L)), lit(0L))
            .as("n_orphan_keys"))
    check("lineitem.l_orderkey->orders", lineitem(s, d), "l_orderkey",
        orders(s, d), "o_orderkey")
      .unionByName(check("orders.o_custkey->customer", orders(s, d),
        "o_custkey", customer(s, d), "c_custkey"))
      .unionByName(check("customer.c_nationkey->nation", customer(s, d),
        "c_nationkey", nation(s, d), "n_nationkey"))
      .unionByName(check("embeddings.vec_id->documents", embeddings(s, d),
        "vec_id", documents(s, d), "doc_id"))
      .unionByName(check("documents.doc_id->embeddings", documents(s, d),
        "doc_id", embeddings(s, d), "vec_id"))
      .orderBy(col("relationship"))
  }

  val referentialCheckOracle: String = {
    def check(name: String, child: String, ck: String,
        parent: String, pk: String): String =
      s"""SELECT '$name' AS relationship,
         |  (SELECT count(DISTINCT $ck) FROM $child) AS n_child_keys,
         |  (SELECT count(*) FROM (SELECT DISTINCT $ck FROM $child) c
         |    WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))
         |    AS n_orphan_keys""".stripMargin
    s"""SELECT * FROM (
       |${check("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${check("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey")}
       |UNION ALL
       |${check("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey")}
       |UNION ALL
       |${check("embeddings.vec_id->documents", "embeddings", "vec_id", "documents", "doc_id")}
       |UNION ALL
       |${check("documents.doc_id->embeddings", "documents", "doc_id", "embeddings", "vec_id")})
       |ORDER BY relationship""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scd2" -> (scd2 _),
    "q_distinct_on" -> (distinctOn _),
    "q_fd_violations" -> (fdViolations _),
    "q_referential_check" -> (referentialCheck _))

  val oracle: Map[String, String] = Map(
    "q_scd2" -> scd2Oracle,
    "q_distinct_on" -> distinctOnOracle,
    "q_fd_violations" -> fdViolationsOracle,
    "q_referential_check" -> referentialCheckOracle)
}
