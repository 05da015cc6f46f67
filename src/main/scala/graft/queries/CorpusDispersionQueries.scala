package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #96: corpus-dispersion measures — for each
  * high-frequency term, HOW EVENLY it spreads across the corpus'
  * sources (a term can be frequent yet live in one subcorpus; burst
  * terms poison naive frequency-based vocabularies). The panel:
  * Juilland's D (1 − CV/√(k−1) over per-part rates), Gries' DP
  * (deviation of proportions vs part-size shares), Carroll's D2
  * (normalized cross-part entropy), and Rosengren's S — the four
  * standard corpus-linguistics dispersion indices, beside
  * q_burstiness's within-doc variance-to-mean.
  *
  * Scale notes (100 TB): tokens contract to the (term, source) grid
  * in one keyed shuffle; the top-15 term list is a
  * TakeOrderedAndProject over per-term totals; the dispersion algebra
  * runs on the broadcast 15×|sources| grid (sources are bounded by
  * contract — 20 here), with zero-count cells materialized by the
  * grid cross-join so DP's |0 − s_i| terms are not silently dropped.
  *
  * Determinism (D1–D5): counts exact; part shares and rates round at
  * 10dp; CV/entropy/Rosengren fold over ≤k rounded terms as exact
  * decimal sums; ln on rounded shares per the house protocol; sqrt
  * IEEE-exact on 8dp-rounded operands. */
object CorpusDispersionQueries extends QueryFamily {

  /** q_term_dispersion — the four-index dispersion panel for the
    * top-15 corpus terms. */
  def termDispersion(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("source"),
      explode(split(lower(col("text")), " ")).as("term"))
    // ONE pass: the per-source sizes are exact folds of the
    // (term, source) grid (parity-pinned identity) — materialized
    // once (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val ts = toks.groupBy(col("term"), col("source"))
      .agg(count(lit(1)).as("v"))
      .truncatedCheckpoint()
    val partSize = ts.groupBy(col("source"))
      .agg(sum(col("v")).as("sz"))
    val totals = partSize.agg(sum(col("sz")).as("total"),
      count(lit(1)).as("k"))
    val top = ts.groupBy(col("term")).agg(sum(col("v")).as("f"))
      .orderBy(col("f").desc, col("term")).limit(15)
    val grid = top.crossJoin(broadcast(
        partSize.crossJoin(broadcast(totals))))
      .join(ts, Seq("term", "source"), "left")
      .select(col("term"), col("f"), col("k"), col("source"),
        coalesce(col("v"), lit(0L)).as("v"),
        round(col("sz").cast("double") / col("total").cast("double"), 10)
          .as("share"),
        round(coalesce(col("v"), lit(0L)).cast("double")
          / col("sz").cast("double"), 10).as("rate"))
    def f(c: String) = col(c).cast("double")
    val perTerm = grid.groupBy(col("term"), col("f"), col("k")).agg(
      count(lit(1)).as("cells"),
      sum(col("rate").cast("decimal(18,10)")).as("sr"),
      sum(round(col("rate") * col("rate"), 12).cast("decimal(27,12)"))
        .as("srr"),
      sum(round(abs(col("v").cast("double") / col("f").cast("double")
        - col("share")), 10).cast("decimal(18,10)")).as("sdp"),
      sum(when(col("v") > 0,
        round(-(round(f("v") / f("f"), 10))
          * log(round(f("v") / f("f"), 10)), 10))
        .otherwise(lit(0.0)).cast("decimal(18,10)")).as("sh"),
      sum(round(sqrt(round(col("share")
        * col("v").cast("double"), 10)), 10).cast("decimal(18,10)"))
        .as("srsv"))
    val kD = col("k").cast("double")
    val mean = f("sr") / kD
    val varp = f("srr") / kD - round(mean, 10) * round(mean, 10)
    perTerm.select(col("term"), col("f"),
        round(lit(1.0) - sqrt(round(varp, 12)) / round(mean, 10)
          / sqrt(kD - lit(1.0)), 6).as("d_juilland"),
        round(lit(0.5) * f("sdp"), 6).as("dp_gries"),
        round(f("sh") / log(kD), 6).as("d2_carroll"),
        round(round(f("srsv"), 8) * round(f("srsv"), 8) / f("f"), 6)
          .as("s_rosengren"))
      .orderBy(col("f").desc, col("term"))
  }

  val termDispersionOracle: String =
    """WITH toks AS (SELECT source,
      |    unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |ts AS (SELECT term, source, CAST(count(*) AS BIGINT) AS v
      |  FROM toks GROUP BY 1, 2),
      |psz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
      |  FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS k FROM psz),
      |top AS (SELECT term, CAST(sum(v) AS BIGINT) AS f
      |  FROM ts GROUP BY term ORDER BY f DESC, term LIMIT 15),
      |grid AS (SELECT top.term, top.f, tot.k, psz.source,
      |    coalesce(ts.v, 0) AS v,
      |    round(CAST(psz.sz AS DOUBLE)/CAST(tot.total AS DOUBLE), 10)
      |      AS share,
      |    round(CAST(coalesce(ts.v, 0) AS DOUBLE)
      |      /CAST(psz.sz AS DOUBLE), 10) AS rate
      |  FROM top CROSS JOIN psz CROSS JOIN tot
      |  LEFT JOIN ts ON ts.term = top.term AND ts.source = psz.source),
      |pt AS (SELECT term, f, k,
      |    sum(CAST(rate AS DECIMAL(18,10))) AS sr,
      |    sum(CAST(round(rate*rate, 12) AS DECIMAL(27,12))) AS srr,
      |    sum(CAST(round(abs(CAST(v AS DOUBLE)/CAST(f AS DOUBLE)
      |      - share), 10) AS DECIMAL(18,10))) AS sdp,
      |    sum(CAST(CASE WHEN v > 0 THEN
      |        round(-(round(CAST(v AS DOUBLE)/CAST(f AS DOUBLE), 10))
      |          *ln(round(CAST(v AS DOUBLE)/CAST(f AS DOUBLE), 10)), 10)
      |      ELSE 0.0 END AS DECIMAL(18,10))) AS sh,
      |    sum(CAST(round(sqrt(round(share*CAST(v AS DOUBLE), 10)), 10)
      |      AS DECIMAL(18,10))) AS srsv
      |  FROM grid GROUP BY 1, 2, 3)
      |SELECT term, f,
      |  round(1.0 - sqrt(round(CAST(srr AS DOUBLE)/CAST(k AS DOUBLE)
      |      - round(CAST(sr AS DOUBLE)/CAST(k AS DOUBLE), 10)
      |        *round(CAST(sr AS DOUBLE)/CAST(k AS DOUBLE), 10), 12))
      |    /round(CAST(sr AS DOUBLE)/CAST(k AS DOUBLE), 10)
      |    /sqrt(CAST(k AS DOUBLE) - 1.0), 6) AS d_juilland,
      |  round(0.5*CAST(sdp AS DOUBLE), 6) AS dp_gries,
      |  round(CAST(sh AS DOUBLE)/ln(CAST(k AS DOUBLE)), 6) AS d2_carroll,
      |  round(round(CAST(srsv AS DOUBLE), 8)
      |    *round(CAST(srsv AS DOUBLE), 8)/CAST(f AS DOUBLE), 6)
      |    AS s_rosengren
      |FROM pt ORDER BY f DESC, term""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_term_dispersion" -> (termDispersion _))

  val oracle: Map[String, String] = Map(
    "q_term_dispersion" -> termDispersionOracle)
}
