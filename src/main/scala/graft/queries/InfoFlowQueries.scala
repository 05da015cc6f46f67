package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #114: directional dependence between the daily
  * purchase and non-purchase series — the cross-correlation function
  * at lags −5..+5 (which direction LEADS, the prerequisite read
  * before q_granger's F test) and discretized transfer entropy
  * (the model-free information-flow asymmetry TE(X→Y) vs TE(Y→X)
  * over the up/down-move alphabet).
  *
  * Scale notes (100 TB): both live on the bounded daily grid; every
  * lag is a day+k equi-join (the econometrics-family contract); the
  * transfer-entropy distribution is an 8-cell exact-count grid, so
  * the ln algebra is constant-size.
  *
  * Determinism (D1–D5): counts exact; means/sds 8dp off decimal
  * moments; CCF products round at 6dp into decimal sums; TE cell
  * probabilities are exact-count ratios rounded at 10dp before the
  * house ln; outputs 4–6dp. */
object InfoFlowQueries extends QueryFamily {

  private def daily(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(to_date(col("ts2")).as("day"))
      .agg(count(when(col("event_type") === "purchase", lit(1))).as("y"),
        count(when(col("event_type") =!= "purchase", lit(1))).as("x"))

  /** q_cross_corr — CCF(k) = corr(x_t, y_{t+k}) for k = −5..5, each
    * lag one equi-join against broadcast standardization moments. */
  def crossCorr(s: SparkSession, d: String): DataFrame = {
    // the daily grid feeds the moments frame + all 11 lag branches —
    // materialize once (round-8 scan gate: was 33 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val dd = daily(s, d).truncatedCheckpoint()
    def f(c: String) = col(c).cast("double")
    val m = dd.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
    val stats = m.select(
      round(f("sx") / f("n"), 8).as("mx"),
      round(f("sy") / f("n"), 8).as("my"),
      round(sqrt(round(f("sxx") / f("n")
        - round(f("sx") / f("n"), 8) * round(f("sx") / f("n"), 8), 8)),
        8).as("sdx"),
      round(sqrt(round(f("syy") / f("n")
        - round(f("sy") / f("n"), 8) * round(f("sy") / f("n"), 8), 8)),
        8).as("sdy"))
    val lags = (-5 to 5).map { k =>
      val b = dd.select(col("day").as("dayb"), col("y").as("yb"))
      // the grid is horizon-bounded (≤ |days|) — broadcast explicitly
      // instead of trusting size estimates, which inflate over
      // small-file catalog layouts and would flip these to SMJ
      dd.join(broadcast(b), col("dayb") === date_add(col("day"), k))
        .crossJoin(broadcast(stats))
        .agg(count(lit(1)).as("n_pairs"),
          sum(round((col("x") - col("mx")) * (col("yb") - col("my")), 6)
            .cast("decimal(27,6)")).as("sp"),
          first(col("sdx")).as("sdx"), first(col("sdy")).as("sdy"))
        .select(lit(k).as("lag"), col("n_pairs"),
          round(col("sp").cast("double")
            / (col("n_pairs").cast("double") * col("sdx") * col("sdy")),
            6).as("ccf"))
    }
    lags.reduce(_ unionByName _).orderBy(col("lag"))
  }

  val crossCorrOracle: String = {
    val statsSql =
      s"""stats AS (SELECT
         |    round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8) AS mx,
         |    round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8) AS my,
         |    round(sqrt(round(CAST(sxx AS DOUBLE)/CAST(n AS DOUBLE)
         |      - round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8)
         |        *round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8), 8)),
         |      8) AS sdx,
         |    round(sqrt(round(CAST(syy AS DOUBLE)/CAST(n AS DOUBLE)
         |      - round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8)
         |        *round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8), 8)),
         |      8) AS sdy
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS n,
         |      CAST(sum(x) AS BIGINT) AS sx,
         |      CAST(sum(x*x) AS BIGINT) AS sxx,
         |      CAST(sum(y) AS BIGINT) AS sy,
         |      CAST(sum(y*y) AS BIGINT) AS syy
         |    FROM dd) mm)""".stripMargin
    val lagRows = (-5 to 5).map { k =>
      s"""SELECT CAST($k AS INT) AS lag,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(sum(CAST(round((a.x - mx)*(b.y - my), 6)
         |      AS DECIMAL(27,6))) AS DOUBLE)
         |    /(CAST(count(*) AS DOUBLE)*any_value(sdx)*any_value(sdy)),
         |    6) AS ccf
         |FROM dd a JOIN dd b ON b.day = a.day + ($k), stats""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH dd AS ($dailyPurchasesSql),
       |$statsSql
       |SELECT * FROM ($lagRows) t ORDER BY lag""".stripMargin
  }

  /** q_transfer_entropy — TE over the binary up/down alphabet in
    * both directions: TE(X→Y) = Σ p(y₁,y₀,x₀)·ln
    * [p(y₁|y₀,x₀)/p(y₁|y₀)], all from the exact 8-cell count grid
    * of consecutive-day triples. */
  def transferEntropy(s: SparkSession, d: String): DataFrame = {
    // daily grid + the move/triple frames each fan out into every
    // conditional-probability branch — materialize the grid once
    // (round-8 scan gate: was 40 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val dd = daily(s, d).truncatedCheckpoint()
    val b = dd.select(col("day").as("dayp"), col("y").as("yp"),
      col("x").as("xp"))
    // up/down moves per day, then day-keyed self-join for the
    // (y1, y0, x0) triples — every lag an equi-join, no window
    val mv = dd.join(broadcast(b), col("day") === date_add(col("dayp"), 1))
      .select(col("day"),
        (col("y") > col("yp")).cast("int").as("dy"),
        (col("x") > col("xp")).cast("int").as("dx"))
    val prev = mv.select(col("day").as("dayq"), col("dy").as("dy0"),
      col("dx").as("dx0"))
    val trip = mv.join(broadcast(prev), col("day") === date_add(col("dayq"), 1))
      .select(col("dy").as("y1"), col("dy0").as("y0"),
        col("dx0").as("x0"))
    val cells = trip.groupBy(col("y1"), col("y0"), col("x0"))
      .agg(count(lit(1)).as("c"))
    val n = cells.agg(sum(col("c")).as("n"))
    def f(c: org.apache.spark.sql.Column) = c.cast("double")
    val jyx = cells.groupBy(col("y0"), col("x0"))
      .agg(sum(col("c")).as("c_y0x0"))
    val jy = cells.groupBy(col("y0"), col("y1"))
      .agg(sum(col("c")).as("c_y0y1"))
    val my = cells.groupBy(col("y0")).agg(sum(col("c")).as("c_y0"))
    val terms = cells.join(broadcast(jyx), Seq("y0", "x0"))
      .join(broadcast(jy), Seq("y0", "y1")).join(broadcast(my), Seq("y0"))
      .crossJoin(broadcast(n))
      .select(round(f(col("c")) / f(col("n"))
        * log(round(f(col("c")) * f(col("c_y0"))
          / (f(col("c_y0x0")) * f(col("c_y0y1"))), 10)), 8)
        .cast("decimal(18,8)").as("term"))
    val teXY = terms.agg(round(sum(col("term")).cast("double"), 6)
      .as("te_x_to_y"))
    // reverse direction: swap roles of x and y
    val tripR = mv.join(broadcast(prev), col("day") === date_add(col("dayq"), 1))
      .select(col("dx").as("y1"), col("dx0").as("y0"),
        col("dy0").as("x0"))
    val cellsR = tripR.groupBy(col("y1"), col("y0"), col("x0"))
      .agg(count(lit(1)).as("c"))
    val nR = cellsR.agg(sum(col("c")).as("n"))
    val jyxR = cellsR.groupBy(col("y0"), col("x0"))
      .agg(sum(col("c")).as("c_y0x0"))
    val jyR = cellsR.groupBy(col("y0"), col("y1"))
      .agg(sum(col("c")).as("c_y0y1"))
    val myR = cellsR.groupBy(col("y0")).agg(sum(col("c")).as("c_y0"))
    val termsR = cellsR.join(broadcast(jyxR), Seq("y0", "x0"))
      .join(broadcast(jyR), Seq("y0", "y1")).join(broadcast(myR), Seq("y0"))
      .crossJoin(broadcast(nR))
      .select(round(f(col("c")) / f(col("n"))
        * log(round(f(col("c")) * f(col("c_y0"))
          / (f(col("c_y0x0")) * f(col("c_y0y1"))), 10)), 8)
        .cast("decimal(18,8)").as("term"))
    val teYX = termsR.agg(round(sum(col("term")).cast("double"), 6)
      .as("te_y_to_x"))
    teXY.crossJoin(broadcast(teYX))
      .select(col("te_x_to_y"), col("te_y_to_x"),
        round(col("te_x_to_y") - col("te_y_to_x"), 6).as("net_flow"))
  }

  val transferEntropyOracle: String = {
    def teSql(y: String, x: String): String =
      s"""SELECT round(CAST(sum(CAST(round(CAST(c AS DOUBLE)
         |      /CAST(n AS DOUBLE)
         |      *ln(round(CAST(c AS DOUBLE)*CAST(c_y0 AS DOUBLE)
         |        /(CAST(c_y0x0 AS DOUBLE)*CAST(c_y0y1 AS DOUBLE)),
         |        10)), 8) AS DECIMAL(18,8))) AS DOUBLE), 6)
         |FROM (SELECT y1, y0, x0, CAST(count(*) AS BIGINT) AS c
         |    FROM trip_$y$x GROUP BY 1, 2, 3) cells
         |  JOIN (SELECT y0, x0, CAST(count(*) AS BIGINT) AS c_y0x0
         |    FROM trip_$y$x GROUP BY 1, 2) a USING (y0, x0)
         |  JOIN (SELECT y0, y1, CAST(count(*) AS BIGINT) AS c_y0y1
         |    FROM trip_$y$x GROUP BY 1, 2) b USING (y0, y1)
         |  JOIN (SELECT y0, CAST(count(*) AS BIGINT) AS c_y0
         |    FROM trip_$y$x GROUP BY 1) m USING (y0),
         |  (SELECT CAST(count(*) AS BIGINT) AS n FROM trip_$y$x) nn""".stripMargin
    s"""WITH dd AS ($dailyPurchasesSql),
       |mv AS (SELECT a.day,
       |    CAST(a.y > b.y AS INT) AS dy, CAST(a.x > b.x AS INT) AS dx
       |  FROM dd a JOIN dd b ON a.day = b.day + 1),
       |trip_yx AS (SELECT a.dy AS y1, b.dy AS y0, b.dx AS x0
       |  FROM mv a JOIN mv b ON a.day = b.day + 1),
       |trip_xy AS (SELECT a.dx AS y1, b.dx AS y0, b.dy AS x0
       |  FROM mv a JOIN mv b ON a.day = b.day + 1)
       |SELECT
       |  (${teSql("y", "x")}) AS te_x_to_y,
       |  (${teSql("x", "y")}) AS te_y_to_x,
       |  round((${teSql("y", "x")}) - (${teSql("x", "y")}), 6)
       |    AS net_flow""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cross_corr" -> (crossCorr _),
    "q_transfer_entropy" -> (transferEntropy _))

  val oracle: Map[String, String] = Map(
    "q_cross_corr" -> crossCorrOracle,
    "q_transfer_entropy" -> transferEntropyOracle)
}
