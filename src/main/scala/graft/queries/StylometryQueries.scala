package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #110: corpus-comparison stylometry — log-
  * likelihood keyness (Dunning's G², the corpus linguist's "what
  * words characterize THIS source against the rest") and Burrows'
  * Delta (the authorship-attribution distance: mean |Δz| of
  * standardized top-term rates between sources).
  *
  * Scale notes (100 TB): both ride the (term, source) contraction;
  * keyness is scalar ln algebra per term row; Delta's z-matrix lives
  * on the broadcast top-20-term × |sources| grid, and pair distances
  * on the |sources|² grid.
  *
  * Determinism (D1–D5): counts exact; rate/expectation ratios round
  * at 10dp before the house ln; per-term G² contributions round at
  * 8dp into decimal sums; z at 6dp; Delta at 6dp with the source
  * pair as tiebreak. */
object StylometryQueries extends QueryFamily {

  private def termSource(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("source"),
        explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term"), col("source"))
      .agg(count(lit(1)).as("c"))

  private val termSourceSql: String =
    """ts AS (SELECT term, source, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source,
      |      unnest(string_split(lower(text), ' ')) AS term
      |    FROM documents) tok
      |  GROUP BY 1, 2)""".stripMargin

  /** q_keyness — top-15 src0-characteristic terms by Dunning G²
    * (src0 vs the rest of the corpus; 0·ln0 terms drop to 0). */
  def keyness(s: SparkSession, d: String): DataFrame = {
    val ts = termSource(s, d)
    val perTerm = ts.groupBy(col("term")).agg(
      sum(when(col("source") === "src0", col("c")).otherwise(lit(0L)))
        .as("a"),
      sum(when(col("source") =!= "src0", col("c")).otherwise(lit(0L)))
        .as("b"))
    val tot = perTerm.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    def f(c: String) = col(c).cast("double")
    val e1 = round(f("na") * (f("a") + f("b")) / (f("na") + f("nb")), 8)
    val e2 = round(f("nb") * (f("a") + f("b")) / (f("na") + f("nb")), 8)
    perTerm.crossJoin(broadcast(tot))
      .select(col("term"), col("a"), col("b"),
        round(lit(2.0) * (
          when(col("a") > 0,
            round(f("a") * log(round(f("a") / e1, 10)), 8))
            .otherwise(lit(0.0))
          + when(col("b") > 0,
            round(f("b") * log(round(f("b") / e2, 10)), 8))
            .otherwise(lit(0.0))), 4).as("g2"),
        (f("a") / f("na") > f("b") / f("nb")).as("overused"))
      .filter(col("overused"))
      .orderBy(col("g2").desc, col("term"))
      .limit(15)
      .drop("overused")
  }

  val keynessOracle: String =
    s"""WITH $termSourceSql,
       |pt AS (SELECT term,
       |    CAST(sum(CASE WHEN source = 'src0' THEN c ELSE 0 END)
       |      AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN source <> 'src0' THEN c ELSE 0 END)
       |      AS BIGINT) AS b
       |  FROM ts GROUP BY term),
       |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
       |    CAST(sum(b) AS BIGINT) AS nb FROM pt),
       |scored AS (SELECT term, a, b,
       |    round(2.0*(
       |      CASE WHEN a > 0 THEN round(CAST(a AS DOUBLE)
       |        *ln(round(CAST(a AS DOUBLE)
       |          /round(CAST(na AS DOUBLE)*(CAST(a AS DOUBLE)
       |            + CAST(b AS DOUBLE))/(CAST(na AS DOUBLE)
       |            + CAST(nb AS DOUBLE)), 8), 10)), 8) ELSE 0.0 END
       |      + CASE WHEN b > 0 THEN round(CAST(b AS DOUBLE)
       |        *ln(round(CAST(b AS DOUBLE)
       |          /round(CAST(nb AS DOUBLE)*(CAST(a AS DOUBLE)
       |            + CAST(b AS DOUBLE))/(CAST(na AS DOUBLE)
       |            + CAST(nb AS DOUBLE)), 8), 10)), 8) ELSE 0.0 END),
       |      4) AS g2,
       |    CAST(a AS DOUBLE)/CAST(na AS DOUBLE)
       |      > CAST(b AS DOUBLE)/CAST(nb AS DOUBLE) AS overused
       |  FROM pt, tot)
       |SELECT term, a, b, g2 FROM scored
       |WHERE overused ORDER BY g2 DESC, term LIMIT 15""".stripMargin

  /** q_burrows_delta — top-5 most stylistically similar source pairs
    * by Burrows' Delta over the top-20 corpus terms. */
  def burrowsDelta(s: SparkSession, d: String): DataFrame = {
    // (term, source, c) grid feeds the top-terms, source-length and
    // rate branches — materialize once (round-8 scan gate: was 12
    // documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val ts = termSource(s, d).truncatedCheckpoint()
    val top = ts.groupBy(col("term")).agg(sum(col("c")).as("f"))
      .orderBy(col("f").desc, col("term")).limit(20)
      .select(col("term"))
    val srcLen = ts.groupBy(col("source")).agg(sum(col("c")).as("len"))
    val rates = top.crossJoin(broadcast(srcLen))
      .join(ts, Seq("term", "source"), "left")
      .select(col("term"), col("source"),
        round(coalesce(col("c"), lit(0L)).cast("double")
          / col("len").cast("double"), 10).as("rate"))
    val stats = rates.groupBy(col("term")).agg(
      count(lit(1)).as("k"),
      sum(col("rate").cast("decimal(18,10)")).as("sr"),
      sum(round(col("rate") * col("rate"), 12).cast("decimal(27,12)"))
        .as("srr"))
    def f(c: String) = col(c).cast("double")
    val kD = col("k").cast("double")
    val mu = round(f("sr") / kD, 10)
    val sd = round(sqrt(round(f("srr") / kD - mu * mu, 12)), 10)
    val z = rates.join(broadcast(stats.select(col("term"), mu.as("mu"),
        sd.as("sd"))), "term")
      .filter(col("sd") > 0)
      .select(col("term"), col("source"),
        round((col("rate") - col("mu")) / col("sd"), 6).as("z"))
    val za = z.select(col("term"), col("source").as("s1"),
      col("z").as("z1"))
    val zb = z.select(col("term"), col("source").as("s2"),
      col("z").as("z2"))
    za.join(zb, Seq("term")).filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(round(sum(round(abs(col("z1") - col("z2")), 6)
        .cast("decimal(18,6)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("delta"))
      .orderBy(col("delta"), col("s1"), col("s2"))
      .limit(5)
  }

  val burrowsDeltaOracle: String =
    s"""WITH $termSourceSql,
       |top AS (SELECT term FROM (SELECT term,
       |      CAST(sum(c) AS BIGINT) AS f
       |    FROM ts GROUP BY term) t
       |  ORDER BY f DESC, term LIMIT 20),
       |srclen AS (SELECT source, CAST(sum(c) AS BIGINT) AS len
       |  FROM ts GROUP BY source),
       |rates AS (SELECT top.term, srclen.source,
       |    round(CAST(coalesce(ts.c, 0) AS DOUBLE)
       |      /CAST(len AS DOUBLE), 10) AS rate
       |  FROM top CROSS JOIN srclen
       |  LEFT JOIN ts ON ts.term = top.term
       |    AND ts.source = srclen.source),
       |stats AS (SELECT term, CAST(count(*) AS BIGINT) AS k,
       |    sum(CAST(rate AS DECIMAL(18,10))) AS sr,
       |    sum(CAST(round(rate*rate, 12) AS DECIMAL(27,12))) AS srr
       |  FROM rates GROUP BY term),
       |ms AS (SELECT term,
       |    round(CAST(sr AS DOUBLE)/CAST(k AS DOUBLE), 10) AS mu,
       |    round(sqrt(round(CAST(srr AS DOUBLE)/CAST(k AS DOUBLE)
       |      - round(CAST(sr AS DOUBLE)/CAST(k AS DOUBLE), 10)
       |        *round(CAST(sr AS DOUBLE)/CAST(k AS DOUBLE), 10), 12)),
       |      10) AS sd
       |  FROM stats),
       |z AS (SELECT r.term, r.source,
       |    round((rate - mu)/sd, 6) AS z
       |  FROM rates r JOIN ms ON ms.term = r.term
       |  WHERE sd > 0)
       |SELECT a.source AS s1, b.source AS s2,
       |  round(CAST(sum(CAST(round(abs(a.z - b.z), 6)
       |    AS DECIMAL(18,6))) AS DOUBLE)/CAST(count(*) AS DOUBLE), 6)
       |    AS delta
       |FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
       |GROUP BY a.source, b.source
       |ORDER BY delta, s1, s2 LIMIT 5""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_keyness" -> (keyness _),
    "q_burrows_delta" -> (burrowsDelta _))

  val oracle: Map[String, String] = Map(
    "q_keyness" -> keynessOracle,
    "q_burrows_delta" -> burrowsDeltaOracle)
}
