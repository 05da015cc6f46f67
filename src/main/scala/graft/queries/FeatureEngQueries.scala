package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #26: feature-engineering operators — the pairwise
  * feature-correlation matrix a feature-selection pass reads first,
  * and smoothed (m-estimate) target encoding of a high-cardinality
  * categorical.
  *
  * Scale notes (100 TB): the correlation matrix computes ALL pairwise
  * moments in ONE scan (15 DECIMAL sums in a single aggregate — no
  * per-pair passes, no unpivot shuffle) and unfolds the 6 pairs from
  * the 1-row aggregate; target encoding is a keyed aggregate plus a
  * broadcast 1-row global prior — the standard leak-free encoding
  * shape (fit on totals, not per-row).
  *
  * Determinism: D2 throughout — every Σ is an exact DECIMAL cast;
  * the prior is rounded to 4dp BEFORE entering the encoding formula
  * so both engines smooth with the identical constant.
  */
object FeatureEngQueries extends QueryFamily {

  /** q_feature_corr — Pearson correlation for every pair of the four
    * lineitem numeric features (quantity, discount, extendedprice,
    * tax): one moment scan, six output rows (fa < fb). */
  def featureCorr(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(
      col("l_quantity").as("q"), col("l_discount").as("d"),
      col("l_extendedprice").as("e"), col("l_tax").as("x"))
    def s1(c: String) = sum(col(c).cast("decimal(18,6)")).cast("double").as(s"s_$c")
    def s2(a: String, b: String) =
      sum((col(a) * col(b)).cast("decimal(27,6)")).cast("double").as(s"s_$a$b")
    // ONE moment pass, materialized (round-7): without the lazy
    // checkpoint the optimizer column-prunes each of the six union
    // branches into its OWN 2-column lineitem scan + pruned aggregate
    // (6 passes over the largest fact table, no exchange reuse — the
    // branch aggregates differ); the checkpointed 1-row frame makes
    // it one 4-column pass shared by all branches
    import graft.operators.CacheOps.CheckpointSyntax
    val m = li.agg(count(lit(1)).as("n"),
      s1("q"), s1("d"), s1("e"), s1("x"),
      s2("q", "q"), s2("d", "d"), s2("e", "e"), s2("x", "x"),
      s2("q", "d"), s2("q", "e"), s2("q", "x"),
      s2("d", "e"), s2("d", "x"), s2("e", "x"))
      .truncatedCheckpoint()
    val nD = col("n").cast("double")
    def corrOf(a: String, b: String): Column = {
      val sab = col(s"s_$a$b")
      val r = (nD * sab - col(s"s_$a") * col(s"s_$b")) /
        sqrt((nD * col(s"s_$a$a") - col(s"s_$a") * col(s"s_$a")) *
             (nD * col(s"s_$b$b") - col(s"s_$b") * col(s"s_$b")))
      // a negative r that rounds to zero is -0.0 in the oracle (DuckDB
      // rounds in binary and keeps the sign); Spark's round goes
      // through BigDecimal, which has no signed zero
      val rounded = round(r, 6)
      when(rounded === 0.0 && r < 0.0, lit(-0.0)).otherwise(rounded)
    }
    val names = Map("q" -> "quantity", "d" -> "discount",
      "e" -> "extendedprice", "x" -> "tax")
    val pairs = Seq("q" -> "d", "q" -> "e", "q" -> "x",
      "d" -> "e", "d" -> "x", "e" -> "x")
    pairs.map { case (a, b) =>
      m.select(lit(names(a)).as("fa"), lit(names(b)).as("fb"),
        corrOf(a, b).as("corr"))
    }.reduce(_ unionAll _).orderBy(col("fa"), col("fb"))
  }

  val featureCorrOracle: String = {
    val names = Map("q" -> ("quantity", "l_quantity"),
      "d" -> ("discount", "l_discount"),
      "e" -> ("extendedprice", "l_extendedprice"),
      "x" -> ("tax", "l_tax"))
    val moments =
      names.keys.toSeq.sorted.map(k =>
        s"CAST(sum(CAST(${names(k)._2} AS DECIMAL(18,6))) AS DOUBLE) AS s_$k"
      ) ++
      Seq("qq", "dd", "ee", "xx", "qd", "qe", "qx", "de", "dx", "ex").map { p =>
        val (a, b) = (p(0).toString, p(1).toString)
        s"CAST(sum(CAST(${names(a)._2}*${names(b)._2} AS DECIMAL(27,6))) AS DOUBLE) AS s_$p"
      }
    def leg(a: String, b: String): String =
      s"""SELECT '${names(a)._1}' AS fa, '${names(b)._1}' AS fb,
        |  round((CAST(n AS DOUBLE)*s_$a$b - s_$a*s_$b) /
        |    sqrt((CAST(n AS DOUBLE)*s_$a$a - s_$a*s_$a) *
        |         (CAST(n AS DOUBLE)*s_$b$b - s_$b*s_$b)), 6) AS corr
        |FROM m""".stripMargin
    val legs = Seq("q" -> "d", "q" -> "e", "q" -> "x",
      "d" -> "e", "d" -> "x", "e" -> "x").map { case (a, b) => leg(a, b) }
    s"""WITH m AS (SELECT count(*) AS n,
      |  ${moments.mkString(",\n  ")}
      |  FROM lineitem)
      |${legs.mkString("", "\nUNION ALL\n", "")}
      |ORDER BY fa, fb""".stripMargin
  }

  /** q_target_encode — m-estimate target encoding of part brand
    * against extendedprice: enc = (Σ_brand + m·prior)/(n_brand + m)
    * with m = 50 and the global-mean prior rounded to 4dp before
    * smoothing — the leak-free categorical encoder fit on totals. */
  def targetEncode(s: SparkSession, d: String): DataFrame = {
    val joined = lineitem(s, d)
      .join(part(s, d), col("p_partkey") === col("l_partkey"))
      .select(col("p_brand"), col("l_extendedprice").as("y"))
    val prior = joined.agg(
      round(sum(col("y").cast("decimal(18,4)")).cast("double") /
        count(lit(1)).cast("double"), 4).as("prior"))
    val g = joined.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(18,4)")).cast("double").as("sy"))
    g.crossJoin(broadcast(prior))
      .select(col("p_brand"), col("n"),
        round(col("sy") / col("n").cast("double"), 4).as("raw_mean"),
        round((col("sy") + lit(50.0) * col("prior")) /
          (col("n").cast("double") + 50.0), 4).as("enc"),
        col("prior"))
      .orderBy(col("p_brand"))
  }

  val targetEncodeOracle: String =
    """WITH j AS (SELECT p_brand, l_extendedprice AS y
      |  FROM lineitem JOIN part ON p_partkey = l_partkey),
      |prior AS (SELECT
      |    round(CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 4) AS prior
      |  FROM j),
      |g AS (SELECT p_brand, count(*) AS n,
      |    CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy
      |  FROM j GROUP BY 1)
      |SELECT p_brand, n,
      |  round(sy/CAST(n AS DOUBLE), 4) AS raw_mean,
      |  round((sy + 50.0*prior.prior)/(CAST(n AS DOUBLE) + 50.0), 4) AS enc,
      |  prior.prior
      |FROM g CROSS JOIN prior ORDER BY p_brand""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_feature_corr" -> (featureCorr _),
    "q_target_encode" -> (targetEncode _))

  val oracle: Map[String, String] = Map(
    "q_feature_corr" -> featureCorrOracle,
    "q_target_encode" -> targetEncodeOracle)
}
