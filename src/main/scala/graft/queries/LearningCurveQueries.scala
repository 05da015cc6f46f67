package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #104: the learning curve — validation error of
  * the same model fit on NESTED 25/50/75/100% slices of the train
  * pool (is more data still buying accuracy, or has the curve
  * flattened?). The model is the 1-feature OLS of line revenue on
  * quantity; splits are content-addressed md5 buckets (the
  * q_sample_hash / q_subsample_ci convention), so membership is
  * reproducible on any engine and NESTED by construction (bucket <
  * cut, with cuts ordered).
  *
  * The Spark-first trick: the four models train in ONE scan — each
  * fraction's moments are conditional decimal sums keyed by its
  * bucket predicate — and the four validation RMSEs come from ONE
  * pass over the 10% holdout against the 4-row broadcast coefficient
  * frame. A 100 TB fact pays two map-side-combinable passes total,
  * not one per point on the curve.
  *
  * Determinism (D1–D5): md5 membership is engine-identical; moments
  * are exact decimals; coefficients 8dp (Bass convention); squared
  * errors round at 4dp into decimal sums; RMSE 4dp. */
object LearningCurveQueries extends QueryFamily {

  private val cuts = Seq(("0.25", "39"), ("0.50", "73"),
    ("0.75", "ac"), ("1.00", "e6"))

  /** q_learning_curve — fraction, train size, slope, val RMSE. */
  def learningCurve(s: SparkSession, d: String): DataFrame = {
    // 3-col hashed projection feeds the train moments + validation
    // scoring; the 1-row moment frame feeds one branch per grid point
    // - materialize each once (round-8 scan gate: was 5 lineitem
    // scans per query)
    import graft.operators.CacheOps.CheckpointSyntax
    val li = lineitem(s, d).select(
      substring(md5(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))), 1, 2).as("h"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .truncatedCheckpoint()
    def mom(cut: String): Seq[Column] = {
      val in = col("h") < cut
      Seq(count(when(in, lit(1))).as(s"n_$cut"),
        sum(when(in, col("x")).otherwise(lit(0.0))
          .cast("decimal(18,2)")).as(s"sx_$cut"),
        sum(when(in, col("y")).otherwise(lit(0.0))
          .cast("decimal(18,2)")).as(s"sy_$cut"),
        sum(when(in, col("x") * col("x")).otherwise(lit(0.0))
          .cast("decimal(27,4)")).as(s"sxx_$cut"),
        sum(when(in, col("x") * col("y")).otherwise(lit(0.0))
          .cast("decimal(27,4)")).as(s"sxy_$cut"))
    }
    val m = li.agg(mom(cuts.head._2).head,
      (cuts.flatMap(c => mom(c._2)).drop(1)): _*)
      .truncatedCheckpoint()
    def f(c: String) = col(c).cast("double")
    val coefRows = cuts.map { case (fr, cut) =>
      val nD = f(s"n_$cut")
      val b1 = (nD * f(s"sxy_$cut") - f(s"sx_$cut") * f(s"sy_$cut")) /
        (nD * f(s"sxx_$cut") - f(s"sx_$cut") * f(s"sx_$cut"))
      m.select(lit(fr).as("fraction"), col(s"n_$cut").as("n_train"),
        round(b1, 8).as("b1"),
        round((f(s"sy_$cut") - round(b1, 8) * f(s"sx_$cut")) / nD, 8)
          .as("b0"))
    }
    val coef = coefRows.reduce(_ unionByName _)
    li.filter(col("h") >= "e6")
      .join(broadcast(coef))
      .select(col("fraction"), col("n_train"), col("b1"),
        round((col("y") - col("b0") - col("b1") * col("x"))
          * (col("y") - col("b0") - col("b1") * col("x")), 4)
          .cast("decimal(27,4)").as("se"))
      .groupBy(col("fraction"), col("n_train"), col("b1"))
      .agg(count(lit(1)).as("n_val"),
        round(sqrt(round(sum(col("se")).cast("double")
          / count(lit(1)).cast("double"), 8)), 4).as("rmse"))
      .orderBy(col("fraction"))
  }

  val learningCurveOracle: String = {
    val momSql = cuts.map { case (_, cut) =>
      s"""    CAST(count(CASE WHEN h < '$cut' THEN 1 END) AS BIGINT)
         |      AS n_$cut,
         |    sum(CAST(CASE WHEN h < '$cut' THEN x ELSE 0.0 END
         |      AS DECIMAL(18,2))) AS sx_$cut,
         |    sum(CAST(CASE WHEN h < '$cut' THEN y ELSE 0.0 END
         |      AS DECIMAL(18,2))) AS sy_$cut,
         |    sum(CAST(CASE WHEN h < '$cut' THEN x*x ELSE 0.0 END
         |      AS DECIMAL(27,4))) AS sxx_$cut,
         |    sum(CAST(CASE WHEN h < '$cut' THEN x*y ELSE 0.0 END
         |      AS DECIMAL(27,4))) AS sxy_$cut""".stripMargin
    }.mkString(",\n")
    val coefSql = cuts.map { case (fr, cut) =>
      s"""SELECT '$fr' AS fraction, n_$cut AS n_train,
         |  round((CAST(n_$cut AS DOUBLE)*CAST(sxy_$cut AS DOUBLE)
         |    - CAST(sx_$cut AS DOUBLE)*CAST(sy_$cut AS DOUBLE))
         |    /(CAST(n_$cut AS DOUBLE)*CAST(sxx_$cut AS DOUBLE)
         |    - CAST(sx_$cut AS DOUBLE)*CAST(sx_$cut AS DOUBLE)), 8) AS b1,
         |  round((CAST(sy_$cut AS DOUBLE)
         |    - round((CAST(n_$cut AS DOUBLE)*CAST(sxy_$cut AS DOUBLE)
         |      - CAST(sx_$cut AS DOUBLE)*CAST(sy_$cut AS DOUBLE))
         |      /(CAST(n_$cut AS DOUBLE)*CAST(sxx_$cut AS DOUBLE)
         |      - CAST(sx_$cut AS DOUBLE)*CAST(sx_$cut AS DOUBLE)), 8)
         |      *CAST(sx_$cut AS DOUBLE))/CAST(n_$cut AS DOUBLE), 8)
         |    AS b0
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT
       |    substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
       |      || CAST(l_linenumber AS VARCHAR)), 1, 2) AS h,
       |    l_quantity AS x, l_extendedprice AS y
       |  FROM lineitem),
       |m AS (SELECT
       |$momSql
       |  FROM li),
       |coef AS ($coefSql)
       |SELECT fraction, n_train, b1,
       |  CAST(count(*) AS BIGINT) AS n_val,
       |  round(sqrt(round(CAST(sum(CAST(round((y - b0 - b1*x)
       |      *(y - b0 - b1*x), 4) AS DECIMAL(27,4))) AS DOUBLE)
       |    /CAST(count(*) AS DOUBLE), 8)), 4) AS rmse
       |FROM li, coef
       |WHERE h >= 'e6'
       |GROUP BY fraction, n_train, b1
       |ORDER BY fraction""".stripMargin
  }

  /** q_ridge_path — the L2 shrinkage path of the same revenue~quantity
    * model: b(λ) = (nΣxy−ΣxΣy)/(nΣxx−(Σx)² + nλ) for λ ∈ {0, 1e4,
    * 1e5, 1e6}, each fit validated on the md5 holdout. ALL four
    * models come from ONE train moment fold (λ only enters the
    * denominator) and ONE validation pass against the 4-row
    * broadcast coefficient frame — regularization sweep without
    * re-training. */
  def ridgePath(s: SparkSession, d: String): DataFrame = {
    // 3-col hashed projection feeds the train moments + validation
    // scoring; the 1-row moment frame feeds one branch per grid point
    // - materialize each once (round-8 scan gate: was 5 lineitem
    // scans per query)
    import graft.operators.CacheOps.CheckpointSyntax
    val li = lineitem(s, d).select(
      substring(md5(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))), 1, 2).as("h"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .truncatedCheckpoint()
    val m = li.filter(col("h") < "e6").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,2)")).as("sx"),
      sum(col("y").cast("decimal(18,2)")).as("sy"),
      sum((col("x") * col("x")).cast("decimal(27,4)")).as("sxx"),
      sum((col("x") * col("y")).cast("decimal(27,4)")).as("sxy"))
      .truncatedCheckpoint()
    def f(c: String) = col(c).cast("double")
    val lams = Seq(0.0, 1e4, 1e5, 1e6)
    val coef = lams.map { lam =>
      val nD = f("n")
      val b1 = round((nD * f("sxy") - f("sx") * f("sy"))
        / (nD * f("sxx") - f("sx") * f("sx") + nD * lit(lam)), 8)
      m.select(lit(lam).as("lambda"), b1.as("b1"),
        round((f("sy") - b1 * f("sx")) / nD, 8).as("b0"))
    }.reduce(_ unionByName _)
    li.filter(col("h") >= "e6")
      .join(broadcast(coef))
      .select(col("lambda"), col("b1"),
        round((col("y") - col("b0") - col("b1") * col("x"))
          * (col("y") - col("b0") - col("b1") * col("x")), 4)
          .cast("decimal(27,4)").as("se"))
      .groupBy(col("lambda"), col("b1"))
      .agg(round(sqrt(round(sum(col("se")).cast("double")
        / count(lit(1)).cast("double"), 8)), 4).as("rmse_val"))
      .orderBy(col("lambda"))
  }

  val ridgePathOracle: String = {
    val coefSql = Seq(0.0, 1e4, 1e5, 1e6).map { lam =>
      s"""SELECT CAST($lam AS DOUBLE) AS lambda,
         |  round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
         |    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
         |    /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
         |    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)
         |    + CAST(n AS DOUBLE)*CAST($lam AS DOUBLE)), 8) AS b1,
         |  round((CAST(sy AS DOUBLE)
         |    - round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
         |      /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)
         |      + CAST(n AS DOUBLE)*CAST($lam AS DOUBLE)), 8)
         |      *CAST(sx AS DOUBLE))/CAST(n AS DOUBLE), 8) AS b0
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT
       |    substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
       |      || CAST(l_linenumber AS VARCHAR)), 1, 2) AS h,
       |    l_quantity AS x, l_extendedprice AS y
       |  FROM lineitem),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
       |    sum(CAST(y AS DECIMAL(18,2))) AS sy,
       |    sum(CAST(x*x AS DECIMAL(27,4))) AS sxx,
       |    sum(CAST(x*y AS DECIMAL(27,4))) AS sxy
       |  FROM li WHERE h < 'e6'),
       |coef AS ($coefSql)
       |SELECT lambda, b1,
       |  round(sqrt(round(CAST(sum(CAST(round((y - b0 - b1*x)
       |      *(y - b0 - b1*x), 4) AS DECIMAL(27,4))) AS DOUBLE)
       |    /CAST(count(*) AS DOUBLE), 8)), 4) AS rmse_val
       |FROM li, coef
       |WHERE h >= 'e6'
       |GROUP BY lambda, b1
       |ORDER BY lambda""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_learning_curve" -> (learningCurve _),
    "q_ridge_path" -> (ridgePath _))

  val oracle: Map[String, String] = Map(
    "q_learning_curve" -> learningCurveOracle,
    "q_ridge_path" -> ridgePathOracle)
}
