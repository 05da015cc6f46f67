package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #40: clustering evaluation — simplified
  * silhouette (centroid-based, the O(n·k) form production systems
  * actually compute; the textbook all-pairs form is O(n²)), the
  * adjusted Rand index between the k-means partition and the true
  * labels (exact integer combinatorics), and per-label exemplar
  * selection (the most central member — what a labeling UI shows
  * first).
  *
  * Scale notes (100 TB): everything reuses the (vector, dim, cluster)
  * exploded-DECIMAL-distance pattern of q_kmeans_step — k-bounded
  * expansions, keyed contractions, struct-min/max argmins; ARI is a
  * k×k contingency contraction with closed-form n-choose-2 sums.
  *
  * Determinism: distances are exact DECIMAL sums (bit-identical
  * assignments); ARI is exact integer arithmetic until the final
  * ratio; silhouettes round at output.
  */
object ClusterEvalQueries extends QueryFamily {

  private val K = 4

  /** Exploded components. */
  private def ex(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("x", col("v").cast("double"))

  /** Exact-decimal d² of every vector to every centroid (centroids =
    * vectors 0..K−1, the q_kmeans_step init). */
  private def dists(s: SparkSession, d: String): DataFrame = {
    val e = ex(s, d)
    val cent = e.filter(col("vec_id") < K)
      .select(col("vec_id").cast("int").as("cluster"), col("pos"),
        col("x").as("c"))
    // n×K narrow rows, referenced by the own/other/assignment
    // branches of every consumer — materialize once (round-8 scan
    // gate: was 12 embeddings scans in q_ch_db; recomputing the
    // explode+centroid join per branch is the expensive part)
    import graft.operators.CacheOps.CheckpointSyntax
    e.join(broadcast(cent), "pos")
      .groupBy(col("vec_id"), col("cluster"))
      .agg(sum(round((col("x") - col("c")) * (col("x") - col("c")), 10)
        .cast("decimal(24,10)")).as("d2"))
      .truncatedCheckpoint()
  }

  private val distsSql: String =
    """ex AS (SELECT vec_id, label,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |cent AS (SELECT CAST(vec_id AS INTEGER) AS cluster, pos, x AS c
      |  FROM ex WHERE vec_id < 4),
      |dists AS (SELECT ex.vec_id, cent.cluster,
      |    sum(CAST(round((ex.x - cent.c)*(ex.x - cent.c), 10)
      |      AS DECIMAL(24,10))) AS d2
      |  FROM ex JOIN cent ON cent.pos = ex.pos
      |  GROUP BY 1, 2)""".stripMargin

  /** q_silhouette — simplified silhouette per assigned cluster:
    * a = distance to own centroid, b = min distance to any other,
    * s = (b−a)/max(a,b); reported as the per-cluster mean with
    * population. Distances compare as exact decimals; s computed on
    * their sqrt doubles, rounded. */
  def silhouette(s: SparkSession, d: String): DataFrame = {
    val dd = dists(s, d)
    val own = dd.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.d2").as("a2"))
    // b = min distance over clusters OTHER than the assigned one
    val b = dd.join(own.select(col("vec_id"),
        col("cluster").as("assigned")), "vec_id")
      .filter(col("cluster") =!= col("assigned"))
      .groupBy(col("vec_id")).agg(min(col("d2")).as("b2"))
    val sil = own.join(b, "vec_id")
      .select(col("cluster"),
        round((sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
          greatest(sqrt(col("a2").cast("double")), sqrt(col("b2").cast("double"))),
          8).as("s"))
    sil.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s").cast("decimal(18,8)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_silhouette"))
      .orderBy(col("cluster"))
  }

  val silhouetteOracle: String =
    s"""WITH $distsSql,
      |own AS (SELECT vec_id, m[2] AS cluster, m[1] AS a2 FROM (
      |  SELECT vec_id, min((d2, cluster)) AS m FROM dists GROUP BY 1)),
      |b AS (SELECT d.vec_id, min(d.d2) AS b2
      |  FROM dists d JOIN own ON own.vec_id = d.vec_id
      |  WHERE d.cluster <> own.cluster
      |  GROUP BY 1),
      |sil AS (SELECT own.cluster,
      |    round((sqrt(CAST(b.b2 AS DOUBLE)) - sqrt(CAST(own.a2 AS DOUBLE))) /
      |      greatest(sqrt(CAST(own.a2 AS DOUBLE)),
      |        sqrt(CAST(b.b2 AS DOUBLE))), 8) AS s
      |  FROM own JOIN b ON b.vec_id = own.vec_id)
      |SELECT cluster, count(*) AS n,
      |  round(CAST(sum(CAST(s AS DECIMAL(18,8))) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 6) AS mean_silhouette
      |FROM sil GROUP BY 1 ORDER BY cluster""".stripMargin

  /** q_cluster_ari — adjusted Rand index between the centroid
    * assignment and the true labels: contingency n_ij, margins, and
    * ARI = (Σ C(n_ij,2) − E)/(max − E) with E = Σ C(a_i,2)·Σ C(b_j,2)
    * / C(n,2) — exact integers until the final ratio. */
  def clusterAri(s: SparkSession, d: String): DataFrame = {
    val dd = dists(s, d)
    val assigned = dd.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"))
    val truth = embeddings(s, d).select(col("vec_id"), col("label"))
    // k×k contingency grid feeds the pair fold + both margin folds —
    // materialize once (round-8 scan gate: was 5 embeddings scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val cont = assigned.join(truth, "vec_id")
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("nij"))
      .truncatedCheckpoint()
    // n·(n−1) is even, so the double division by 2 is exact and the
    // long cast restores the integer type (matches the oracle's `//`)
    def c2(c: org.apache.spark.sql.Column) =
      ((c * (c - 1L)) / lit(2L)).cast("long")
    val sumIj = cont.agg(sum(c2(col("nij"))).as("sij"),
      sum(col("nij")).as("n"))
    val rowS = cont.groupBy(col("cluster")).agg(sum(col("nij")).as("a"))
      .agg(sum(c2(col("a"))).as("sa"))
    val colS = cont.groupBy(col("label")).agg(sum(col("nij")).as("b"))
      .agg(sum(c2(col("b"))).as("sb"))
    sumIj.crossJoin(broadcast(rowS)).crossJoin(broadcast(colS))
      .select(col("n"), col("sij"), col("sa"), col("sb"),
        round((col("sij").cast("double") -
          col("sa").cast("double") * col("sb").cast("double") /
            c2(col("n")).cast("double")) /
          ((col("sa").cast("double") + col("sb").cast("double")) / 2.0 -
            col("sa").cast("double") * col("sb").cast("double") /
              c2(col("n")).cast("double")), 6).as("ari"))
  }

  val clusterAriOracle: String =
    s"""WITH $distsSql,
      |assigned AS (SELECT vec_id, m[2] AS cluster FROM (
      |  SELECT vec_id, min((d2, cluster)) AS m FROM dists GROUP BY 1)),
      |cont AS (SELECT a.cluster, t.label, count(*) AS nij
      |  FROM assigned a JOIN embeddings t ON t.vec_id = a.vec_id
      |  GROUP BY 1, 2),
      |sij AS (SELECT CAST(sum(nij*(nij-1)//2) AS BIGINT) AS sij,
      |    CAST(sum(nij) AS BIGINT) AS n FROM cont),
      |sa AS (SELECT CAST(sum(a*(a-1)//2) AS BIGINT) AS sa FROM (
      |  SELECT sum(nij) AS a FROM cont GROUP BY cluster)),
      |sb AS (SELECT CAST(sum(b*(b-1)//2) AS BIGINT) AS sb FROM (
      |  SELECT sum(nij) AS b FROM cont GROUP BY label))
      |SELECT n, sij, sa, sb,
      |  round((CAST(sij AS DOUBLE) -
      |    CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE)/CAST(n*(n-1)//2 AS DOUBLE)) /
      |    ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))/2.0 -
      |     CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE)/CAST(n*(n-1)//2 AS DOUBLE)),
      |    6) AS ari
      |FROM sij CROSS JOIN sa CROSS JOIN sb""".stripMargin

  /** q_exemplar — per true label: the member closest to the label's
    * 8dp DECIMAL centroid (emb_inertia convention) — the exemplar a
    * review queue surfaces; exact-decimal distances, struct-min
    * argmin. */
  def exemplar(s: SparkSession, d: String): DataFrame = {
    val e = ex(s, d)
    val cent = e.groupBy(col("label"), col("pos"))
      .agg(round(sum(col("x").cast("decimal(20,10)")).cast("double") /
        count(lit(1)).cast("double"), 8).as("c"))
    val d2 = e.join(cent, Seq("label", "pos"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum(round((col("x") - col("c")) * (col("x") - col("c")), 10)
        .cast("decimal(24,10)")).as("d2"))
    d2.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("d2"), col("vec_id"))).as("m"))
      .select(col("label"), col("n"), col("m.vec_id").as("exemplar_id"),
        round(sqrt(col("m.d2").cast("double")), 6).as("dist"))
      .orderBy(col("label"))
  }

  val exemplarOracle: String =
    """WITH ex AS (SELECT vec_id, label,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |cent AS (SELECT label, pos,
      |    round(CAST(sum(CAST(x AS DECIMAL(20,10))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 8) AS c
      |  FROM ex GROUP BY 1, 2),
      |d2 AS (SELECT ex.label, ex.vec_id,
      |    sum(CAST(round((ex.x - cent.c)*(ex.x - cent.c), 10)
      |      AS DECIMAL(24,10))) AS d2
      |  FROM ex JOIN cent ON cent.label = ex.label AND cent.pos = ex.pos
      |  GROUP BY 1, 2)
      |SELECT label, count(*) AS n,
      |  CAST(min((d2, vec_id))[2] AS BIGINT) AS exemplar_id,
      |  round(sqrt(CAST(min((d2, vec_id))[1] AS DOUBLE)), 6) AS dist
      |FROM d2 GROUP BY 1 ORDER BY label""".stripMargin

  /** q_ch_db — Calinski–Harabasz and Davies–Bouldin validity of the
    * LABEL partition (the ground-truth clustering): CH =
    * (B/(k−1))/(W/(n−k)) from exact within/between scatter, DB =
    * mean over clusters of the worst (s_i+s_j)/d_ij neighbor ratio.
    * Scale shape: one exploded pass contracts to |labels|×|dims|
    * centroids (broadcast); W is a second map-side pass against
    * them; everything after runs on the bounded label grid (≤k²
    * centroid pairs). */
  def chDb(s: SparkSession, d: String): DataFrame = {
    // the exploded components feed 4 branches (label/grand centroids,
    // within-scatter, per-vector distances) and the k×dim centroid
    // grid feeds 5 — materialize each once (round-8 scan gate: was
    // 12 embeddings scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val e = ex(s, d).truncatedCheckpoint()
    val labCent = e.groupBy(col("label"), col("pos"))
      .agg(round(sum(col("x").cast("decimal(18,8)")).cast("double")
        / count(lit(1)).cast("double"), 8).as("mu"))
      .truncatedCheckpoint()
    val grand = e.groupBy(col("pos"))
      .agg(round(sum(col("x").cast("decimal(18,8)")).cast("double")
        / count(lit(1)).cast("double"), 8).as("g"))
    val sizes = embeddings(s, d).groupBy(col("label"))
      .agg(count(lit(1)).as("n_g"))
    val tot = sizes.agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"))
    val wAgg = e.join(broadcast(labCent), Seq("label", "pos"))
      .agg(sum(round((col("x") - col("mu")) * (col("x") - col("mu")), 10)
        .cast("decimal(27,10)")).as("w"))
      .select(round(col("w").cast("double"), 6).as("w"))
    val bAgg = labCent.join(broadcast(grand), "pos")
      .groupBy(col("label"))
      .agg(sum(round((col("mu") - col("g")) * (col("mu") - col("g")), 10)
        .cast("decimal(27,10)")).as("b2"))
      .join(broadcast(sizes), "label")
      .agg(sum(round(col("b2").cast("double")
        * col("n_g").cast("double"), 8).cast("decimal(27,8)")).as("b"))
      .select(round(col("b").cast("double"), 6).as("b"))
    val perVec = e.join(broadcast(labCent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(round((col("x") - col("mu")) * (col("x") - col("mu")), 10)
        .cast("decimal(27,10)")).as("d2"))
      .select(col("label"), round(sqrt(col("d2").cast("double")), 8)
        .as("dd"))
    val si = perVec.groupBy(col("label"))
      .agg(round(sum(col("dd").cast("decimal(18,8)")).cast("double")
        / count(lit(1)).cast("double"), 8).as("s_i"))
    val c1 = labCent.select(col("label").as("l1"), col("pos"),
      col("mu").as("m1"))
    val c2 = labCent.select(col("label").as("l2"), col("pos"),
      col("mu").as("m2"))
    val dij = c1.join(c2, Seq("pos"))
      .filter(col("l1") =!= col("l2"))
      .groupBy(col("l1"), col("l2"))
      .agg(sum(round((col("m1") - col("m2")) * (col("m1") - col("m2")),
        10).cast("decimal(27,10)")).as("dd2"))
      .select(col("l1"), col("l2"),
        round(sqrt(col("dd2").cast("double")), 8).as("d_ij"))
    val sA = si.select(col("label").as("l1"), col("s_i").as("s1"))
    val sB = si.select(col("label").as("l2"), col("s_i").as("s2"))
    val db = dij.join(broadcast(sA), "l1").join(broadcast(sB), "l2")
      .select(col("l1"),
        round((col("s1") + col("s2")) / col("d_ij"), 8).as("ratio"))
      .groupBy(col("l1")).agg(max(col("ratio")).as("worst"))
      .agg(round(sum(col("worst").cast("decimal(18,8)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("db"))
    def f(c: String) = col(c).cast("double")
    wAgg.crossJoin(broadcast(bAgg)).crossJoin(broadcast(tot))
      .crossJoin(broadcast(db))
      .select(col("k"), col("n"),
        round((f("b") / (f("k") - lit(1.0)))
          / (f("w") / (f("n") - f("k"))), 6).as("ch"),
        col("db"))
  }

  val chDbOracle: String =
    """WITH ex AS (SELECT vec_id, label,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |labcent AS (SELECT label, pos,
      |    round(CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 8) AS mu
      |  FROM ex GROUP BY 1, 2),
      |grand AS (SELECT pos,
      |    round(CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 8) AS g
      |  FROM ex GROUP BY 1),
      |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_g
      |  FROM embeddings GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k FROM sizes),
      |w AS (SELECT round(CAST(sum(CAST(round((x - mu)*(x - mu), 10)
      |      AS DECIMAL(27,10))) AS DOUBLE), 6) AS w
      |  FROM ex JOIN labcent
      |    ON labcent.label = ex.label AND labcent.pos = ex.pos),
      |b AS (SELECT round(CAST(sum(CAST(round(CAST(b2 AS DOUBLE)
      |      *CAST(n_g AS DOUBLE), 8) AS DECIMAL(27,8))) AS DOUBLE), 6)
      |      AS b
      |  FROM (SELECT lc.label,
      |      sum(CAST(round((mu - g)*(mu - g), 10) AS DECIMAL(27,10)))
      |        AS b2
      |    FROM labcent lc JOIN grand ON grand.pos = lc.pos
      |    GROUP BY lc.label) bb
      |  JOIN sizes ON sizes.label = bb.label),
      |pv AS (SELECT ex.label,
      |    round(sqrt(CAST(sum(CAST(round((x - mu)*(x - mu), 10)
      |      AS DECIMAL(27,10))) AS DOUBLE)), 8) AS dd
      |  FROM ex JOIN labcent
      |    ON labcent.label = ex.label AND labcent.pos = ex.pos
      |  GROUP BY ex.vec_id, ex.label),
      |si AS (SELECT label,
      |    round(CAST(sum(CAST(dd AS DECIMAL(18,8))) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 8) AS s_i
      |  FROM pv GROUP BY label),
      |dij AS (SELECT a.label AS l1, b.label AS l2,
      |    round(sqrt(CAST(sum(CAST(round((a.mu - b.mu)*(a.mu - b.mu),
      |      10) AS DECIMAL(27,10))) AS DOUBLE)), 8) AS d_ij
      |  FROM labcent a JOIN labcent b
      |    ON a.pos = b.pos AND a.label <> b.label
      |  GROUP BY a.label, b.label),
      |worst AS (SELECT l1, max(round((sa.s_i + sb.s_i)/d_ij, 8))
      |      AS worst
      |  FROM dij JOIN si sa ON sa.label = l1
      |  JOIN si sb ON sb.label = l2
      |  GROUP BY l1),
      |dbv AS (SELECT round(CAST(sum(CAST(worst AS DECIMAL(18,8)))
      |      AS DOUBLE)/CAST(count(*) AS DOUBLE), 6) AS db
      |  FROM worst)
      |SELECT k, n,
      |  round((b/(CAST(k AS DOUBLE) - 1.0))
      |    /(w/(CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS ch,
      |  db
      |FROM w, b, tot, dbv""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_silhouette" -> (silhouette _),
    "q_cluster_ari" -> (clusterAri _),
    "q_exemplar" -> (exemplar _),
    "q_ch_db" -> (chDb _))

  val oracle: Map[String, String] = Map(
    "q_silhouette" -> silhouetteOracle,
    "q_cluster_ari" -> clusterAriOracle,
    "q_exemplar" -> exemplarOracle,
    "q_ch_db" -> chDbOracle)
}
