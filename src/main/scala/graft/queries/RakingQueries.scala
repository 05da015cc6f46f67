package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #39: iterative proportional fitting (survey
  * raking) — reweight the lang × source cell grid so both margins hit
  * uniform targets, two full IPF cycles. The classic calibration
  * algorithm of survey statistics and corpus rebalancing: the SAME
  * dataflow reweights a training corpus so language and source
  * marginals match a spec without touching the joint structure.
  *
  * Scale notes (100 TB): the iteration state is the |langs|·|sources|
  * CELL GRID, not the corpus — documents contract to cells once, and
  * each IPF pass is a margin aggregate + broadcast join on the tiny
  * grid (margins are |langs| and |sources| rows). At any corpus size
  * the loop costs the same.
  *
  * Determinism: weights re-round to 6dp after EVERY scale pass (the
  * rounded value is the iteration state, so both engines walk the
  * identical trajectory); margins re-enter DECIMAL for the
  * order-independent sums.
  */
object RakingQueries extends QueryFamily {

  /** q_ipf_rake — cell weights after two full row/column IPF cycles
    * against uniform margin targets, with the residual row-margin
    * error per cell's language. */
  def ipfRake(s: SparkSession, d: String): DataFrame = {
    // cell grid feeds the totals probe + the seeded frame —
    // materialize once (round-8 scan gate: was 4 documents scans)
    val cells = documents(s, d).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .truncatedCheckpoint()
    val nTot = cells.agg(sum(col("n")).as("nt"),
      countDistinct(col("lang")).as("nl"),
      countDistinct(col("source")).as("ns"))
    val seeded = cells.crossJoin(broadcast(nTot))
      .select(col("lang"), col("source"), col("n"),
        col("n").cast("double").as("w"),
        (col("nt").cast("double") / col("nl").cast("double")).as("rt"),
        (col("nt").cast("double") / col("ns").cast("double")).as("ct"))
    // localCheckpoint per pass: each pass references its input TWICE
    // (margin aggregate + join), so the 4 chained passes otherwise
    // replicate the seeded tree 2⁴× — the q_kcore_peel pattern; each
    // checkpointed frame is the tiny |lang|×|source| cell grid.
    def rowPass(df: DataFrame): DataFrame = {
      val m = df.groupBy(col("lang").as("l2"))
        .agg(sum(col("w").cast("decimal(24,6)")).cast("double").as("rm"))
      df.join(broadcast(m), col("lang") === col("l2"))
        .select(col("lang"), col("source"), col("n"),
          round(col("w") * col("rt") / col("rm"), 6).as("w"),
          col("rt"), col("ct"))
        .truncatedCheckpoint()
    }
    def colPass(df: DataFrame): DataFrame = {
      val m = df.groupBy(col("source").as("s2"))
        .agg(sum(col("w").cast("decimal(24,6)")).cast("double").as("cm"))
      df.join(broadcast(m), col("source") === col("s2"))
        .select(col("lang"), col("source"), col("n"),
          round(col("w") * col("ct") / col("cm"), 6).as("w"),
          col("rt"), col("ct"))
        .truncatedCheckpoint()
    }
    val raked = colPass(rowPass(colPass(rowPass(seeded))))
    val resid = raked.groupBy(col("lang").as("l3"))
      .agg(sum(col("w").cast("decimal(24,6)")).cast("double").as("row_sum"))
    raked.join(broadcast(resid), col("lang") === col("l3"))
      .select(col("lang"), col("source"), col("n"),
        col("w").as("weight"),
        round(abs(col("row_sum") - col("rt")), 4).as("row_resid"))
      .orderBy(col("lang"), col("source"))
  }

  val ipfRakeOracle: String = {
    def rowPass(in: String, out: String): String =
      s"""$out AS (SELECT t.lang, t.source, t.n,
        |    round(t.w * t.rt /
        |      m.rm, 6) AS w, t.rt, t.ct
        |  FROM $in t JOIN (SELECT lang,
        |      CAST(sum(CAST(w AS DECIMAL(24,6))) AS DOUBLE) AS rm
        |    FROM $in GROUP BY 1) m ON m.lang = t.lang)""".stripMargin
    def colPass(in: String, out: String): String =
      s"""$out AS (SELECT t.lang, t.source, t.n,
        |    round(t.w * t.ct /
        |      m.cm, 6) AS w, t.rt, t.ct
        |  FROM $in t JOIN (SELECT source,
        |      CAST(sum(CAST(w AS DECIMAL(24,6))) AS DOUBLE) AS cm
        |    FROM $in GROUP BY 1) m ON m.source = t.source)""".stripMargin
    s"""WITH cells AS (SELECT lang, source, count(*) AS n
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt,
      |    CAST(count(DISTINCT lang) AS DOUBLE) AS nl,
      |    CAST(count(DISTINCT source) AS DOUBLE) AS ns
      |  FROM cells),
      |seeded AS (SELECT lang, source, n, CAST(n AS DOUBLE) AS w,
      |    tot.nt/tot.nl AS rt, tot.nt/tot.ns AS ct
      |  FROM cells CROSS JOIN tot),
      |${rowPass("seeded", "r1")},
      |${colPass("r1", "c1")},
      |${rowPass("c1", "r2")},
      |${colPass("r2", "c2")},
      |resid AS (SELECT lang,
      |    CAST(sum(CAST(w AS DECIMAL(24,6))) AS DOUBLE) AS row_sum
      |  FROM c2 GROUP BY 1)
      |SELECT c2.lang, c2.source, c2.n, c2.w AS weight,
      |  round(abs(resid.row_sum - c2.rt), 4) AS row_resid
      |FROM c2 JOIN resid ON resid.lang = c2.lang
      |ORDER BY c2.lang, c2.source""".stripMargin
  }

  /** q_median_polish — one cycle of Tukey's median polish on the
    * lang × source mean-n_chars grid: sweep out row medians, then
    * column medians; report per-cell residuals with the extracted
    * effects. The robust (additive) sibling of q_ipf_rake's
    * multiplicative calibration — residual magnitude flags
    * interaction cells a mean-based two-way ANOVA would smear.
    * Medians are exact lower-medians on unique total orders over the
    * tiny per-row/per-column domains (≤|sources| values each). */
  def medianPolish(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cell grid feeds each sweep's count probe + window — materialize
    // once (round-8 scan gate: was 4 documents scans)
    val grid = documents(s, d).groupBy(col("lang"), col("source"))
      .agg(round(sum(col("n_chars").cast("decimal(18,4)")).cast("double") /
        count(lit(1)).cast("double"), 4).as("v"))
      .truncatedCheckpoint()
    def medianOver(df: DataFrame, key: String, valueCol: String,
        out: String): DataFrame = {
      val w = Window.partitionBy(col(key))
        .orderBy(col(valueCol), col("lang"), col("source"))
      val cnt = df.groupBy(col(key).as("k2"))
        .agg(count(lit(1)).as("kn"))
      df.withColumn("rn", row_number().over(w))
        .join(broadcast(cnt), col(key) === col("k2"))
        .withColumn(out,
          max(when(col("rn") === ((col("kn") + 1) / 2).cast("long"),
            col(valueCol))).over(Window.partitionBy(col(key))))
        .drop("rn", "k2", "kn")
    }
    val rowSwept = medianOver(grid, "lang", "v", "row_med")
      .withColumn("v1", round(col("v") - col("row_med"), 4))
    val colSwept = medianOver(rowSwept, "source", "v1", "col_med")
      .withColumn("resid", round(col("v1") - col("col_med"), 4))
    colSwept
      .select(col("lang"), col("source"), col("v"),
        col("row_med").as("lang_effect"),
        col("col_med").as("source_effect"),
        col("resid"))
      .orderBy(col("lang"), col("source"))
  }

  val medianPolishOracle: String =
    """WITH grid AS (SELECT lang, source,
      |    round(CAST(sum(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 4) AS v
      |  FROM documents GROUP BY 1, 2),
      |r1 AS (SELECT lang, source, v,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY v, lang, source) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS kn
      |  FROM grid),
      |rmed AS (SELECT lang, max(CASE WHEN rn = (kn + 1) // 2
      |    THEN v END) AS row_med
      |  FROM r1 GROUP BY 1),
      |rs AS (SELECT g.lang, g.source, g.v, rmed.row_med,
      |    round(g.v - rmed.row_med, 4) AS v1
      |  FROM grid g JOIN rmed ON rmed.lang = g.lang),
      |c1 AS (SELECT lang, source, v, row_med, v1,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY v1, lang, source) AS rn,
      |    count(*) OVER (PARTITION BY source) AS kn
      |  FROM rs),
      |cmed AS (SELECT source, max(CASE WHEN rn = (kn + 1) // 2
      |    THEN v1 END) AS col_med
      |  FROM c1 GROUP BY 1)
      |SELECT rs.lang, rs.source, rs.v,
      |  rs.row_med AS lang_effect,
      |  cmed.col_med AS source_effect,
      |  round(rs.v1 - cmed.col_med, 4) AS resid
      |FROM rs JOIN cmed ON cmed.source = rs.source
      |ORDER BY rs.lang, rs.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ipf_rake" -> (ipfRake _),
    "q_median_polish" -> (medianPolish _))

  val oracle: Map[String, String] = Map(
    "q_ipf_rake" -> ipfRakeOracle,
    "q_median_polish" -> medianPolishOracle)
}
