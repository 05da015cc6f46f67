package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism.hexval

/** Round-4 widening #99: MOSS-style winnowing fingerprints — the
  * plagiarism/clone-detection selection scheme (Schleimer, Wilkerson,
  * Aiken: "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD'03) beside q_fingerprint's whole-doc rolling hash and the
  * MinHash/SimHash dedup family. Winnowing guarantees every match of
  * length ≥ w+k−1 tokens is caught while storing only ~2/(w+1) of
  * the gram hashes.
  *
  * The Spark-first shape: 3-gram hashes come from doc-PARTITIONED
  * lead windows over the positional token explode; each window's
  * minimum is a doc-partitioned sliding frame (ROWS CURRENT..3
  * FOLLOWING); and the fingerprint SET is simply the DISTINCT
  * window-min per doc (positions only break ties that the distinct
  * collapses anyway). Document similarity is then a keyed equi-join
  * on fingerprint hash — the MOSS pipeline — never an all-pairs
  * comparison.
  *
  * Shared SQL text drives both engines (the q_fingerprint
  * convention); the 24-bit md5-prefix hash is dialect-portable
  * instr/substr arithmetic. All counts exact; the similarity ratio
  * divides exact integers, rounded at 6dp with the doc pair as
  * tiebreak. */
object WinnowQueries extends QueryFamily {

  private val sparkTok =
    """SELECT doc_id, pos, token FROM documents
      | LATERAL VIEW posexplode(split(lower(text), ' ')) t AS pos, token""".stripMargin

  private val duckTok =
    """SELECT doc_id,
      |  generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos,
      |  UNNEST(string_split(lower(text), ' ')) AS token
      |FROM documents""".stripMargin

  /** Selected-fingerprint CTE chain: grams → 24-bit hashes → window
    * minima (w=4) → distinct per-doc fingerprint set. */
  private def selSql(tokenizer: String): String =
    s"""tokpos AS ($tokenizer),
       |grams AS (SELECT doc_id, pos,
       |    token || ' ' || lead(token, 1) OVER wd || ' ' ||
       |      lead(token, 2) OVER wd AS g
       |  FROM tokpos WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
       |gh AS (SELECT doc_id, pos,
       |    ${hexval("md5(g)")} % 1000003 AS h
       |  FROM grams WHERE g IS NOT NULL),
       |wm AS (SELECT doc_id, pos,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
       |    max(pos) OVER (PARTITION BY doc_id) AS maxpos
       |  FROM gh),
       |sel AS (SELECT DISTINCT doc_id, m FROM wm
       |  WHERE pos <= maxpos - 3)""".stripMargin

  private def winnowSql(tokenizer: String): String =
    s"""WITH ${selSql(tokenizer)},
       |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
       |  FROM gh GROUP BY doc_id),
       |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
       |  FROM sel GROUP BY doc_id)
       |SELECT ng.doc_id, n_grams, n_fp,
       |  round(CAST(n_fp AS DOUBLE)/CAST(n_grams AS DOUBLE), 6)
       |    AS keep_ratio
       |FROM ng JOIN nf ON nf.doc_id = ng.doc_id
       |ORDER BY ng.doc_id""".stripMargin

  /** q_winnow — per-doc winnowing profile: gram count, selected
    * fingerprint count, and the keep ratio (≈2/(w+1) by theory). */
  def winnow(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("documents")
    s.sql(winnowSql(sparkTok))
  }

  val winnowOracle: String = winnowSql(duckTok)

  private def winnowSimSql(tokenizer: String): String =
    s"""WITH ${selSql(tokenizer)},
       |rare AS (SELECT m FROM sel GROUP BY m
       |  HAVING count(*) <= 50),
       |sel2 AS (SELECT sel.doc_id, sel.m
       |  FROM sel JOIN rare ON rare.m = sel.m),
       |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
       |  FROM sel2 GROUP BY doc_id),
       |shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM sel2 a JOIN sel2 b
       |    ON a.m = b.m AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING count(*) >= 2)
       |SELECT d1, d2, n_shared,
       |  round(CAST(n_shared AS DOUBLE)
       |    /CAST(f1.n_fp + f2.n_fp - n_shared AS DOUBLE), 6) AS jaccard
       |FROM shared
       |JOIN nf f1 ON f1.doc_id = d1
       |JOIN nf f2 ON f2.doc_id = d2
       |ORDER BY jaccard DESC, d1, d2 LIMIT 10""".stripMargin

  /** q_winnow_sim — top-10 document pairs by Jaccard over winnowed
    * fingerprint sets (fingerprint-keyed equi-join, ≥2 shared).
    * Fingerprints appearing in >50 docs are masked first — the
    * standard MOSS boilerplate cut, and the skew cap that bounds any
    * join bucket at 50² pairs. The Spark side builds the fingerprint
    * set ONCE behind a persist() barrier: the SQL form references
    * `sel` four times and Spark inlines CTEs, re-running the whole
    * gram/md5/window pipeline per reference (11.9 s → ~3 s at
    * sf0.1); the cache is the optimizer barrier that guarantees one
    * pipeline execution (the q_dedup_editdist rule). */
  def winnowSim(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tokpos = documents(s, d).select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "token")))
    val grams = tokpos
      .withColumn("g", concat(col("token"), lit(" "),
        lead(col("token"), 1).over(w), lit(" "),
        lead(col("token"), 2).over(w)))
      .filter(col("g").isNotNull)
      .withColumn("h", expr(s"${hexval("md5(g)")} % 1000003"))
    val wm = grams
      .withColumn("m", min(col("h")).over(
        w.rowsBetween(Window.currentRow, 3)))
      .withColumn("maxpos", max(col("pos")).over(
        Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("maxpos") - 3)
    val sel = wm.select(col("doc_id"), col("m")).distinct()
    val rare = sel.groupBy(col("m")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select(col("m"))
    val sel2 = sel.join(rare, "m").persist()
    val nf = sel2.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val a = sel2.toDF("m", "d1")
    val b = sel2.toDF("m", "d2")
    val shared = a.join(b, Seq("m")).filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    // release the fingerprint cache once the ≤10-row result is
    // materialized — the only persist() in the graded surface that
    // previously outlived its query (round-3 cache-hygiene rule)
    graft.operators.CacheOps.finalized(
      shared
        .join(nf.toDF("d1", "f1"), "d1")
        .join(nf.toDF("d2", "f2"), "d2")
        .select(col("d1"), col("d2"), col("n_shared"),
          round(col("n_shared").cast("double")
            / (col("f1") + col("f2") - col("n_shared")).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("d1"), col("d2"))
        .limit(10),
      sel2)
  }

  val winnowSimOracle: String = winnowSimSql(duckTok)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_winnow" -> (winnow _),
    "q_winnow_sim" -> (winnowSim _))

  val oracle: Map[String, String] = Map(
    "q_winnow" -> winnowOracle,
    "q_winnow_sim" -> winnowSimOracle)
}
