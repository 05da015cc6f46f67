package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #64: lexical-richness statistics — the Yule's K /
  * Herdan's C / Simpson's lexical-D panel per source (the classic
  * vocabulary-concentration measures computed off the
  * frequency-of-frequencies contraction q_freq_of_freq builds), and
  * the Heaps'-law exponent fitted over the corpus growth curve (the
  * regression companion to q_vocab_growth's raw curve).
  *
  * Scale notes (100 TB): richness contracts tokens → (source, r, N_r)
  * in two keyed groupBys before any arithmetic (the r domain is
  * tiny); heaps runs ONE [[graft.operators.PrefixOps]] distributed
  * prefix over the |docs| per-doc grid (token totals and
  * first-occurrence vocabulary counts are both keyed aggregates) and
  * closes with a single-row OLS fold. No partition-less windows.
  *
  * Determinism: all counts exact longs; ln on exact-integer doubles
  * rounds at 8dp before any division/sum (house protocol); exp output
  * pinned at 4dp; final report 6dp.
  */
object LexicalRichnessQueries extends QueryFamily {

  /** q_yule_k — per source: token count N, vocabulary V, Yule's
    * K = 10⁴·(Σ r²N_r − N)/N², Simpson's lexical
    * D = Σ r(r−1)N_r / (N(N−1)), and Herdan's C = ln V / ln N. */
  def yuleK(s: SparkSession, d: String): DataFrame = {
    val tc = documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("r"))
    val nr = tc.groupBy(col("source"), col("r"))
      .agg(count(lit(1)).as("n_r"))
    val m = nr.groupBy(col("source")).agg(
      sum(col("r") * col("n_r")).as("n_tok"),
      sum(col("n_r")).as("v"),
      sum(col("r") * col("r") * col("n_r")).as("sr2"),
      sum(col("r") * (col("r") - lit(1L)) * col("n_r")).as("srr1"))
    val nD = col("n_tok").cast("double")
    m.select(col("source"), col("n_tok"), col("v"),
        round(lit(10000.0) * (col("sr2").cast("double") - nD)
          / (nD * nD), 6).as("yule_k"),
        round(col("srr1").cast("double")
          / (nD * (nD - lit(1.0))), 8).as("simpson_d"),
        round(round(log(col("v").cast("double")), 8)
          / round(log(nD), 8), 6).as("herdan_c"))
      .orderBy(col("source"))
  }

  val yuleKOracle: String =
    """WITH tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS r
      |  FROM (SELECT source,
      |      unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents) GROUP BY 1, 2),
      |nr AS (SELECT source, r, CAST(count(*) AS BIGINT) AS n_r
      |  FROM tc GROUP BY 1, 2),
      |m AS (SELECT source,
      |    CAST(sum(r*n_r) AS BIGINT) AS n_tok,
      |    CAST(sum(n_r) AS BIGINT) AS v,
      |    CAST(sum(r*r*n_r) AS BIGINT) AS sr2,
      |    CAST(sum(r*(r - 1)*n_r) AS BIGINT) AS srr1
      |  FROM nr GROUP BY 1)
      |SELECT source, n_tok, v,
      |  round(10000.0*(CAST(sr2 AS DOUBLE) - CAST(n_tok AS DOUBLE))
      |    /(CAST(n_tok AS DOUBLE)*CAST(n_tok AS DOUBLE)), 6) AS yule_k,
      |  round(CAST(srr1 AS DOUBLE)
      |    /(CAST(n_tok AS DOUBLE)*(CAST(n_tok AS DOUBLE) - 1.0)), 8)
      |    AS simpson_d,
      |  round(round(ln(CAST(v AS DOUBLE)), 8)
      |    /round(ln(CAST(n_tok AS DOUBLE)), 8), 6) AS herdan_c
      |FROM m ORDER BY source""".stripMargin

  /** q_heaps_fit — Heaps' law V = k·N^β over the doc-order corpus
    * growth curve: running token total N_i and running vocabulary V_i
    * (first-occurrence counts) after each doc, then the closed-form
    * OLS of ln V on ln N over all |docs| points; reports β (the Heaps
    * exponent, ~0.4–0.6 for natural text) and k. */
  def heapsFit(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
    val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("tn"))
    val firstOcc = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("vn"))
    val grid = perDoc.join(firstOcc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tn"), coalesce(col("vn"), lit(0L)).as("vn"))
    val curve = graft.operators.PrefixOps.runningSums(grid,
      col("doc_id"), Seq(col("doc_id")),
      Seq("nn" -> col("tn"), "vv" -> col("vn")))
    val pts = curve.select(
      round(log(col("nn").cast("double")), 8).as("x"),
      round(log(col("vv").cast("double")), 8).as("y"))
    val msum = pts.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(27,8)")).as("sx"),
      sum(col("y").cast("decimal(27,8)")).as("sy"),
      sum(round(col("x") * col("y"), 8).cast("decimal(27,8)")).as("sxy"),
      sum(round(col("x") * col("x"), 8).cast("decimal(27,8)")).as("sxx"))
    val nD = col("n").cast("double")
    def dbl(c: String) = col(c).cast("double")
    val beta = (nD * dbl("sxy") - dbl("sx") * dbl("sy")) /
      (nD * dbl("sxx") - dbl("sx") * dbl("sx"))
    val lnK = (dbl("sy") - beta * dbl("sx")) / nD
    msum.select(col("n").as("n_docs"),
      round(beta, 6).as("heaps_beta"),
      round(lnK, 6).as("ln_k"),
      round(exp(round(lnK, 8)), 4).as("heaps_k"))
  }

  val heapsFitOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tn
      |  FROM toks GROUP BY 1),
      |firstocc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS vn
      |  FROM (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY 1)
      |  GROUP BY 1),
      |grid AS (SELECT p.doc_id, tn, COALESCE(vn, 0) AS vn
      |  FROM perdoc p LEFT JOIN firstocc f ON f.doc_id = p.doc_id),
      |curve AS (SELECT
      |    sum(tn) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
      |    sum(vn) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
      |  FROM grid),
      |pts AS (SELECT round(ln(CAST(nn AS DOUBLE)), 8) AS x,
      |    round(ln(CAST(vv AS DOUBLE)), 8) AS y
      |  FROM curve),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(27,8))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(27,8))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x*y, 8) AS DECIMAL(27,8))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(x*x, 8) AS DECIMAL(27,8))) AS DOUBLE) AS sxx
      |  FROM pts)
      |SELECT n AS n_docs,
      |  round((CAST(n AS DOUBLE)*sxy - sx*sy)
      |    /(CAST(n AS DOUBLE)*sxx - sx*sx), 6) AS heaps_beta,
      |  round((sy - (CAST(n AS DOUBLE)*sxy - sx*sy)
      |      /(CAST(n AS DOUBLE)*sxx - sx*sx)*sx)/CAST(n AS DOUBLE), 6)
      |    AS ln_k,
      |  round(exp(round((sy - (CAST(n AS DOUBLE)*sxy - sx*sy)
      |      /(CAST(n AS DOUBLE)*sxx - sx*sx)*sx)/CAST(n AS DOUBLE), 8)), 4)
      |    AS heaps_k
      |FROM m""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_yule_k" -> (yuleK _),
    "q_heaps_fit" -> (heapsFit _))

  val oracle: Map[String, String] = Map(
    "q_yule_k" -> yuleKOracle,
    "q_heaps_fit" -> heapsFitOracle)
}
