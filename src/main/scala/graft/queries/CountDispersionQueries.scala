package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #64: count-dispersion diagnostics — the index of
  * dispersion (variance-to-mean ratio of daily event counts, the
  * Poisson overdispersion check that decides whether a count model
  * needs a negative-binomial upgrade) and Taylor's power law (the
  * ln-variance vs ln-mean slope across types — the classic
  * mean–variance scaling exponent).
  *
  * Scale notes (100 TB): both contract events to the bounded
  * (type × day) grid first; dispersion is per-type DECIMAL moments
  * over that grid; taylor fits one closed-form OLS over |types|
  * points. No windows, no raw-row retention.
  *
  * Determinism: daily counts are exact integers; means/variances
  * round at 8dp before ln; ln-pairs round at 8dp into DECIMAL sums;
  * D2 output rounding.
  */
object CountDispersionQueries extends QueryFamily {

  private def grid(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("event_type"), to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("x"))

  /** q_dispersion_index — per event type: D = s²/x̄ of daily counts
    * with the asymptotic z = (D−1)·√((n−1)/2) (D≈1 ⇒ Poisson-like;
    * D>1 ⇒ overdispersed). */
  def dispersionIndex(s: SparkSession, d: String): DataFrame = {
    val m = grid(s, d).groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    val nD = col("n").cast("double")
    val mean = round(col("sx") / nD, 8)
    val v = round((col("sxx") - col("sx") * col("sx") / nD) / (nD - 1), 8)
    val dI = round(v / mean, 6)
    m.select(col("event_type"), col("n"), mean.as("mean_daily"),
        v.as("var_daily"), dI.as("dispersion"),
        round((dI - 1) * sqrt(round((nD - 1) / 2, 10)), 4).as("z"))
      .orderBy(col("event_type"))
  }

  val dispersionIndexOracle: String =
    """WITH grid AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x*x) AS DOUBLE) AS sxx
      |  FROM grid GROUP BY 1),
      |t AS (SELECT event_type, n,
      |    round(sx/CAST(n AS DOUBLE), 8) AS mean_daily,
      |    round((sxx - sx*sx/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1), 8)
      |      AS var_daily
      |  FROM m)
      |SELECT event_type, n, mean_daily, var_daily,
      |  round(var_daily/mean_daily, 6) AS dispersion,
      |  round((round(var_daily/mean_daily, 6) - 1)
      |    * sqrt(round((CAST(n AS DOUBLE) - 1)/2, 10)), 4) AS z
      |FROM t ORDER BY event_type""".stripMargin

  /** q_taylor_law — Taylor's power law across event types:
    * ln s² = ln a + b·ln x̄ fitted by closed-form OLS over the
    * |types| (ln mean, ln variance) points; b is the scaling
    * exponent (1 = Poisson, 2 = clumped). */
  def taylorLaw(s: SparkSession, d: String): DataFrame = {
    val m = grid(s, d).groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    val nD = col("n").cast("double")
    val pts = m.select(
      log(round(col("sx") / nD, 8)).as("lx"),
      log(round((col("sxx") - col("sx") * col("sx") / nD) / (nD - 1), 8))
        .as("ly"))
    val f = pts.agg(count(lit(1)).as("k"),
      sum(round(col("lx"), 8).cast("decimal(18,8)")).cast("double").as("sx"),
      sum(round(col("ly"), 8).cast("decimal(18,8)")).cast("double").as("sy"),
      sum(round(col("lx") * col("ly"), 8).cast("decimal(27,8)"))
        .cast("double").as("sxy"),
      sum(round(col("lx") * col("lx"), 8).cast("decimal(27,8)"))
        .cast("double").as("sxx"))
    val kD = col("k").cast("double")
    val b = round((kD * col("sxy") - col("sx") * col("sy"))
      / (kD * col("sxx") - col("sx") * col("sx")), 6)
    f.select(col("k"), b.as("taylor_b"),
      round((col("sy") - b * col("sx")) / kD, 6).as("ln_a"))
  }

  val taylorLawOracle: String =
    """WITH grid AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x*x) AS DOUBLE) AS sxx
      |  FROM grid GROUP BY 1),
      |pts AS (SELECT
      |    ln(round(sx/CAST(n AS DOUBLE), 8)) AS lx,
      |    ln(round((sxx - sx*sx/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1),
      |      8)) AS ly
      |  FROM m),
      |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(CAST(round(lx, 8) AS DECIMAL(18,8))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(ly, 8) AS DECIMAL(18,8))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(lx*ly, 8) AS DECIMAL(27,8))) AS DOUBLE)
      |      AS sxy,
      |    CAST(sum(CAST(round(lx*lx, 8) AS DECIMAL(27,8))) AS DOUBLE)
      |      AS sxx
      |  FROM pts)
      |SELECT k,
      |  round((CAST(k AS DOUBLE)*sxy - sx*sy)
      |    /(CAST(k AS DOUBLE)*sxx - sx*sx), 6) AS taylor_b,
      |  round((sy - round((CAST(k AS DOUBLE)*sxy - sx*sy)
      |      /(CAST(k AS DOUBLE)*sxx - sx*sx), 6)*sx)/CAST(k AS DOUBLE), 6)
      |    AS ln_a
      |FROM f""".stripMargin

  /** Hourly (type, hour-slot) counts INCLUDING empty slots — the
    * zero-inflation substrate (daily counts never hit zero here).
    * The slot grid is days×24 crossed from broadcast 1-row bounds. */
  private def hourly(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(col("event_type").as("t"),
      (floor(col("ts_nanos").cast("double") / 3.6e12)).cast("long").as("slot"))
    val bounds = base.agg(min(col("slot")).as("lo"), max(col("slot")).as("hi"))
    val types = base.select(col("t")).distinct()
    val slots = types.crossJoin(broadcast(bounds))
      .select(col("t"), explode(sequence(col("lo"), col("hi"))).as("slot"))
    val counts = base.groupBy(col("t"), col("slot"))
      .agg(count(lit(1)).as("c"))
    slots.join(broadcast(counts), Seq("t", "slot"), "left")
      .select(col("t"), col("slot"), coalesce(col("c"), lit(0L)).as("c"))
  }

  private val hourlySql: String =
    """base AS (SELECT event_type AS t,
      |    CAST(floor(epoch_ns(ts)/3600000000000.0) AS BIGINT) AS slot
      |  FROM events),
      |bounds AS (SELECT min(slot) AS lo, max(slot) AS hi FROM base),
      |types AS (SELECT DISTINCT t FROM base),
      |slots AS (SELECT t, unnest(range(lo, hi + 1)) AS slot
      |  FROM types, bounds),
      |counts AS (SELECT t, slot, CAST(count(*) AS BIGINT) AS c
      |  FROM base GROUP BY 1, 2),
      |hourly AS (SELECT slots.t, slots.slot, coalesce(c, 0) AS c
      |  FROM slots LEFT JOIN counts
      |    ON counts.t = slots.t AND counts.slot = slots.slot)""".stripMargin

  /** q_negbin_fit — per-type negative-binomial method-of-moments fit
    * on the hourly counts: r = μ²/(σ²−μ), p = μ/σ² (NULL when the
    * data is UNDER-dispersed and NB degenerates). */
  def negbinFit(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    val m = hourly(s, d).groupBy(col("t")).agg(
      count(lit(1)).as("n"), sum(col("c")).as("sc"),
      sum(col("c") * col("c")).as("scc"))
    val mu = round(f("sc") / f("n"), 8)
    val v = round(f("scc") / f("n") - mu * mu, 8)
    m.select(col("t"), col("n"), mu.as("mu"), v.as("var"),
        when(v > mu, round(mu * mu / (v - mu), 6))
          .otherwise(lit(null).cast("double")).as("r_nb"),
        when(v > mu, round(mu / v, 6))
          .otherwise(lit(null).cast("double")).as("p_nb"))
      .orderBy(col("t"))
  }

  val negbinFitOracle: String =
    s"""WITH $hourlySql,
       |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(c) AS BIGINT) AS sc,
       |    CAST(sum(c*c) AS BIGINT) AS scc
       |  FROM hourly GROUP BY t),
       |s AS (SELECT t, n,
       |    round(CAST(sc AS DOUBLE)/CAST(n AS DOUBLE), 8) AS mu,
       |    round(CAST(scc AS DOUBLE)/CAST(n AS DOUBLE)
       |      - round(CAST(sc AS DOUBLE)/CAST(n AS DOUBLE), 8)
       |        *round(CAST(sc AS DOUBLE)/CAST(n AS DOUBLE), 8), 8)
       |      AS var
       |  FROM m)
       |SELECT t, n, mu, var,
       |  CASE WHEN var > mu THEN round(mu*mu/(var - mu), 6) END AS r_nb,
       |  CASE WHEN var > mu THEN round(mu/var, 6) END AS p_nb
       |FROM s ORDER BY t""".stripMargin

  /** q_zip_fit — zero-inflated-Poisson method-of-moments fit per
    * type on the hourly counts: λ̂ = (s² + μ² − μ)/μ, π̂ = 1 − μ/λ̂,
    * beside the observed vs Poisson-implied zero share. */
  def zipFit(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    val m = hourly(s, d).groupBy(col("t")).agg(
      count(lit(1)).as("n"), sum(col("c")).as("sc"),
      sum(col("c") * col("c")).as("scc"),
      count(when(col("c") === 0, lit(1))).as("zeros"))
    val mu = round(f("sc") / f("n"), 8)
    val v = round(f("scc") / f("n") - mu * mu, 8)
    val lam = round((v + mu * mu - mu) / mu, 8)
    m.select(col("t"), col("n"), col("zeros"),
        round(f("zeros") / f("n"), 6).as("zero_share"),
        when(lam > 0, round(lam, 6)).otherwise(lit(null).cast("double"))
          .as("lambda_zip"),
        when(lam > 0, round(lit(1.0) - mu / lam, 6))
          .otherwise(lit(null).cast("double")).as("pi_zip"))
      .orderBy(col("t"))
  }

  val zipFitOracle: String =
    s"""WITH $hourlySql,
       |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(c) AS BIGINT) AS sc,
       |    CAST(sum(c*c) AS BIGINT) AS scc,
       |    CAST(count(CASE WHEN c = 0 THEN 1 END) AS BIGINT) AS zeros
       |  FROM hourly GROUP BY t),
       |s AS (SELECT t, n, zeros,
       |    round(CAST(sc AS DOUBLE)/CAST(n AS DOUBLE), 8) AS mu,
       |    round(CAST(scc AS DOUBLE)/CAST(n AS DOUBLE)
       |      - round(CAST(sc AS DOUBLE)/CAST(n AS DOUBLE), 8)
       |        *round(CAST(sc AS DOUBLE)/CAST(n AS DOUBLE), 8), 8)
       |      AS var
       |  FROM m),
       |l AS (SELECT t, n, zeros, mu,
       |    round((var + mu*mu - mu)/mu, 8) AS lam
       |  FROM s)
       |SELECT t, n, zeros,
       |  round(CAST(zeros AS DOUBLE)/CAST(n AS DOUBLE), 6)
       |    AS zero_share,
       |  CASE WHEN lam > 0 THEN round(lam, 6) END AS lambda_zip,
       |  CASE WHEN lam > 0 THEN round(1.0 - mu/lam, 6) END AS pi_zip
       |FROM l ORDER BY t""".stripMargin

  /** q_gof_poisson — chi-square goodness-of-fit of the hourly
    * PURCHASE count distribution against its fitted Poisson(λ̂):
    * observed bins 0..7 plus the 8+ tail, expected masses
    * n·e^{−λ}λ^c/c! with factorial literals and the house exp on the
    * 8dp-rounded λ. The binned-count contraction makes both the
    * observed table and the χ² fold constant-size. */
  def gofPoisson(s: SparkSession, d: String): DataFrame = {
    // the 1-row (n, λ̂) frame is re-embedded by all 8 expected-mass
    // branches + the tail fold — materialize it (and the shared
    // hourly slice) once (round-8 scan gate: was 51 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val h = hourly(s, d).filter(col("t") === "purchase")
      .truncatedCheckpoint()
    val m = h.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      .select(col("n"),
        round(col("sc").cast("double") / col("n").cast("double"), 8)
          .as("lam"))
      .truncatedCheckpoint()
    val obs = h.select(least(lit(8L), col("c")).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("o"))
    val fact = Seq(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L)
    val expRows = (0 to 7).map { c =>
      m.select(lit(c.toLong).as("bin"), col("n"), col("lam"),
        round(col("n").cast("double") * exp(-col("lam"))
          * pow(col("lam"), lit(c.toDouble)) / lit(fact(c).toDouble), 8)
          .as("e"))
    }
    val bodied = expRows.reduce(_ unionByName _)
    val tail = bodied.groupBy(col("n"))
      .agg(sum(col("e").cast("decimal(18,8)")).cast("double").as("se"))
      .select(lit(8L).as("bin"), round(col("n").cast("double")
        - col("se"), 8).as("e"))
    val expected = bodied.select(col("bin"), col("e"))
      .unionByName(tail)
    val terms = expected.join(broadcast(obs), Seq("bin"), "left")
      .select(col("bin"), col("e"),
        coalesce(col("o"), lit(0L)).as("o"))
      .filter(col("e") > 0.0001)
      .select(round((col("o").cast("double") - col("e"))
        * (col("o").cast("double") - col("e")) / col("e"), 8)
        .cast("decimal(18,8)").as("term"))
    terms.agg(count(lit(1)).as("n_bins"),
      round(sum(col("term")).cast("double"), 4).as("chi2"))
  }

  val gofPoissonOracle: String = {
    val fact = Seq(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L)
    val expRows = (0 to 7).map { c =>
      s"""SELECT CAST($c AS BIGINT) AS bin, n, lam,
         |  round(CAST(n AS DOUBLE)*exp(-lam)
         |    *pow(lam, CAST($c.0 AS DOUBLE))
         |    /CAST(${fact(c)}.0 AS DOUBLE), 8) AS e
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $hourlySql,
       |hp AS (SELECT * FROM hourly WHERE t = 'purchase'),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    round(CAST(sum(c) AS DOUBLE)/CAST(count(*) AS DOUBLE), 8)
       |      AS lam
       |  FROM hp),
       |obs AS (SELECT least(8, c) AS bin, CAST(count(*) AS BIGINT) AS o
       |  FROM hp GROUP BY 1),
       |body AS ($expRows),
       |tail AS (SELECT CAST(8 AS BIGINT) AS bin,
       |    round(CAST(any_value(n) AS DOUBLE)
       |      - CAST(sum(CAST(e AS DECIMAL(18,8))) AS DOUBLE), 8) AS e
       |  FROM body),
       |expd AS (SELECT bin, e FROM body UNION ALL SELECT bin, e
       |  FROM tail),
       |terms AS (SELECT CAST(round((CAST(coalesce(o, 0) AS DOUBLE) - e)
       |      *(CAST(coalesce(o, 0) AS DOUBLE) - e)/e, 8)
       |      AS DECIMAL(18,8)) AS term
       |  FROM expd LEFT JOIN obs USING (bin)
       |  WHERE e > 0.0001)
       |SELECT CAST(count(*) AS BIGINT) AS n_bins,
       |  round(CAST(sum(term) AS DOUBLE), 4) AS chi2
       |FROM terms""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dispersion_index" -> (dispersionIndex _),
    "q_taylor_law" -> (taylorLaw _),
    "q_negbin_fit" -> (negbinFit _),
    "q_zip_fit" -> (zipFit _),
    "q_gof_poisson" -> (gofPoisson _))

  val oracle: Map[String, String] = Map(
    "q_dispersion_index" -> dispersionIndexOracle,
    "q_taylor_law" -> taylorLawOracle,
    "q_negbin_fit" -> negbinFitOracle,
    "q_zip_fit" -> zipFitOracle,
    "q_gof_poisson" -> gofPoissonOracle)
}
