package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #49: RAKE keyword extraction over the corpus,
  * community detection by synchronous label propagation on the trade
  * graph, Jaccard-coefficient link prediction (the set-overlap
  * sibling of q_adamic_adar), and SAX symbolic discretization of the
  * daily series (the classic time-series-to-text bridge).
  *
  * Scale notes (100 TB): RAKE's phrase segmentation is a per-doc
  * partitioned running count (document-bounded windows), word scores
  * are token-keyed aggregations, top-k through orderBy().limit();
  * label propagation is the standard distributed formulation —
  * |V|-row label relation, edge-join + per-node argmax per round,
  * rounds bounded (2 here); Jaccard closes wedges via the shared-
  * neighbor equi-join; SAX contracts to the per-type daily grid then
  * the 5-day PAA buckets (keyed agg), z-breakpoints against
  * broadcast per-type moments — no global windows.
  *
  * Determinism: all counts exact; argmax label ties break to the
  * smallest label via struct-min in both engines; PAA means and z
  * scores round at fixed scales (D2).
  */
object TextGraphQueries extends QueryFamily {

  // ---- RAKE ----

  /** q_rake — RAKE keyword scores: phrases are maximal stopword-free
    * token runs ({a, the} as the stopword list matching the corpus),
    * word freq = occurrences, word degree = Σ phrase length over the
    * word's phrases (self included), score = degree/freq; top 15 by
    * (score, word). */
  def rake(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .withColumn("is_stop", col("tok").isin("a", "the"))
    // phrase id = running stopword count within the doc (doc-bounded
    // partitioned window)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = toks.withColumn("phrase", sum(col("is_stop").cast("int")).over(w))
      .filter(!col("is_stop"))
    val phLen = ph.groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("plen"))
    val scored = ph.join(phLen, Seq("doc_id", "phrase"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).cast("long").as("degree"))
      .select(col("tok"), col("freq"), col("degree"),
        round(col("degree").cast("double") / col("freq").cast("double"), 6)
          .as("score"))
    scored.orderBy(col("score").desc, col("tok")).limit(15)
  }

  val rakeOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |st AS (SELECT doc_id, pos, tok, tok IN ('a','the') AS is_stop
      |  FROM toks),
      |ph AS (SELECT doc_id, tok,
      |    sum(CAST(is_stop AS INTEGER)) OVER (PARTITION BY doc_id
      |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS phrase, is_stop
      |  FROM st),
      |phl AS (SELECT doc_id, phrase, count(*) AS plen
      |  FROM ph WHERE NOT is_stop GROUP BY 1, 2),
      |sc AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(plen) AS BIGINT) AS degree
      |  FROM ph JOIN phl ON phl.doc_id = ph.doc_id AND phl.phrase = ph.phrase
      |  WHERE NOT is_stop GROUP BY 1)
      |SELECT tok, freq, degree,
      |  round(CAST(degree AS DOUBLE)/CAST(freq AS DOUBLE), 6) AS score
      |FROM sc ORDER BY score DESC, tok LIMIT 15""".stripMargin

  // ---- trade graph ----

  /** q_label_prop — two synchronous label-propagation rounds on the
    * trade graph, labels initialized to node ids, each node adopting
    * its neighbors' most frequent label (ties → smallest label, via
    * struct-min on (−count, label)). Bounded rounds keep the plan a
    * fixed join chain; the per-round shape is the standard
    * distributed LPA step. */
  def labelProp(s: SparkSession, d: String): DataFrame = {
    val e = undirectedTradeEdges(s, d)
    val nbr = e.select(col("a").as("node"), col("b").as("z"))
      .union(e.select(col("b"), col("a")))
    val labels0 = nbr.select(col("node")).distinct()
      .withColumn("label", col("node"))
    def step(labels: DataFrame): DataFrame =
      nbr.join(labels.select(col("node").as("z"), col("label")), "z")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
    step(step(labels0)).orderBy(col("node"))
  }

  val labelPropOracle: String =
    s"""WITH e AS MATERIALIZED ($undirectedTradeEdgesSql),
      |nbr AS MATERIALIZED (SELECT a AS node, b AS z FROM e
      |  UNION ALL SELECT b, a FROM e),
      |l0 AS (SELECT DISTINCT node, node AS label FROM nbr),
      |c1 AS (SELECT nbr.node, l0.label, count(*) AS c
      |  FROM nbr JOIN l0 ON l0.node = nbr.z GROUP BY 1, 2),
      |l1 AS (SELECT node, min((-c, label))[2] AS label FROM c1 GROUP BY 1),
      |c2 AS (SELECT nbr.node, l1.label, count(*) AS c
      |  FROM nbr JOIN l1 ON l1.node = nbr.z GROUP BY 1, 2),
      |l2 AS (SELECT node, min((-c, label))[2] AS label FROM c2 GROUP BY 1)
      |SELECT node, label FROM l2 ORDER BY node""".stripMargin

  /** q_jaccard_link — Jaccard link prediction on the trade graph:
    * JC(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| for every pair with ≥1
    * shared neighbor, flagged is_edge (q_adamic_adar convention:
    * the graded graph saturates, so the flag carries the
    * positive/candidate split). */
  def jaccardLink(s: SparkSession, d: String): DataFrame = {
    val e = undirectedTradeEdges(s, d)
    val nbr = e.select(col("a").as("node"), col("b").as("z"))
      .union(e.select(col("b"), col("a")))
    val deg = nbr.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val common = nbr.select(col("node").as("u"), col("z"))
      .join(nbr.select(col("node").as("v"), col("z")), "z")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    common
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
      .join(e.select(col("a").as("u"), col("b").as("v"),
        lit(true).as("is_edge")), Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("cn"),
        round(col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")).cast("double"), 6).as("jc"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
      .orderBy(col("u"), col("v"))
  }

  val jaccardLinkOracle: String =
    s"""WITH e AS MATERIALIZED ($undirectedTradeEdgesSql),
      |nbr AS MATERIALIZED (SELECT a AS node, b AS z FROM e
      |  UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
      |  FROM nbr GROUP BY 1),
      |cn AS (SELECT x.node AS u, y.node AS v, CAST(count(*) AS BIGINT) AS cn
      |  FROM nbr x JOIN nbr y ON y.z = x.z AND x.node < y.node
      |  GROUP BY 1, 2)
      |SELECT cn.u, cn.v, cn.cn,
      |  round(CAST(cn.cn AS DOUBLE) /
      |    CAST(du.deg + dv.deg - cn.cn AS DOUBLE), 6) AS jc,
      |  COALESCE(e.a IS NOT NULL, FALSE) AS is_edge
      |FROM cn JOIN deg du ON du.node = cn.u
      |JOIN deg dv ON dv.node = cn.v
      |LEFT JOIN e ON e.a = cn.u AND e.b = cn.v
      |ORDER BY u, v""".stripMargin

  // ---- SAX ----

  /** q_sax — SAX symbolic discretization of the per-type daily
    * series: 5-day PAA segments (keyed agg over floor(day_idx/5)),
    * z-scored against broadcast per-type moments, mapped to a 4-letter
    * alphabet at the Gaussian quartile breakpoints ±0.6745/0. */
  def sax(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))
    val anchor = daily.groupBy(col("t")).agg(min(col("day")).as("day0"))
    val seg = daily.join(broadcast(anchor), "t")
      .withColumn("chunk",
        floor(datediff(col("day"), col("day0")) / 5).cast("int"))
      .groupBy(col("t"), col("chunk"))
      .agg((sum(col("v").cast("decimal(18,4)")).cast("double") /
        count(lit(1)).cast("double")).as("paa"))
    val mom = daily.groupBy(col("t")).agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(18,4)")).cast("double").as("sv"),
      sum(round(col("v") * col("v"), 4).cast("decimal(27,4)"))
        .cast("double").as("svv"))
      .select(col("t"),
        round(col("sv") / col("n").cast("double"), 6).as("mu"),
        round(sqrt((col("svv") - col("sv") * col("sv") /
          col("n").cast("double")) / (col("n").cast("double") - 1)), 6)
          .as("sd"))
    seg.join(broadcast(mom), "t")
      .withColumn("z", round((col("paa") - col("mu")) / col("sd"), 6))
      .select(col("t"), col("chunk"), round(col("paa"), 4).as("paa"),
        col("z"),
        when(col("z") < -0.6745, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < 0.6745, lit("c"))
          .otherwise(lit("d")).as("sym"))
      .orderBy(col("t"), col("chunk"))
  }

  val saxOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
      |  FROM events GROUP BY 1, 2),
      |anchor AS (SELECT t, min(day) AS day0 FROM daily GROUP BY 1),
      |seg AS (SELECT daily.t,
      |    CAST(floor(date_diff('day', day0, day)/5) AS INTEGER) AS chunk,
      |    CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)/CAST(count(*) AS DOUBLE)
      |      AS paa
      |  FROM daily JOIN anchor ON anchor.t = daily.t GROUP BY 1, 2),
      |mom AS (SELECT t,
      |    round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 6) AS mu,
      |    round(sqrt((CAST(sum(CAST(round(v*v, 4) AS DECIMAL(27,4))) AS DOUBLE) -
      |      CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) *
      |      CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE)) / (CAST(count(*) AS DOUBLE) - 1)), 6)
      |      AS sd
      |  FROM daily GROUP BY 1),
      |z AS (SELECT seg.t, chunk, round(paa, 4) AS paa,
      |    round((paa - mu)/sd, 6) AS z
      |  FROM seg JOIN mom ON mom.t = seg.t)
      |SELECT t, chunk, paa, z,
      |  CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
      |       WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS sym
      |FROM z ORDER BY t, chunk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rake" -> (rake _),
    "q_label_prop" -> (labelProp _),
    "q_jaccard_link" -> (jaccardLink _),
    "q_sax" -> (sax _))

  val oracle: Map[String, String] = Map(
    "q_rake" -> rakeOracle,
    "q_label_prop" -> labelPropOracle,
    "q_jaccard_link" -> jaccardLinkOracle,
    "q_sax" -> saxOracle)
}
