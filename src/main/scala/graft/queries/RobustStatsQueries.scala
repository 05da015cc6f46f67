package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #13: vocabulary band-pass pruning (the df-cutoff
  * featurization step), winsorization (order-statistic clipping), and
  * sessionized usage statistics (gaps-and-islands session metrics).
  *
  * Scale notes (100 TB): the df table is |vocab|-sized (broadcast);
  * winsorize needs per-group order statistics — one rank window per
  * group key, then a broadcast of the |groups|-row clip bounds;
  * session stats ride the same per-user ordered window the session
  * queries already use, with all aggregates map-side combinable.
  */
object RobustStatsQueries extends QueryFamily {

  /** q_vocab_bandpass — df band-pass vocabulary pruning: drop tokens
    * in fewer than 5 docs (noise/typos) or more than 60% of docs
    * (stopwords), then re-profile each doc against the kept
    * vocabulary — the classic featurization cleanup before TF-IDF or
    * hashing at corpus scale. */
  def vocabBandpass(s: SparkSession, d: String): DataFrame = {
    // token postings feed the df pass + the band-pass join —
    // materialize once (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .truncatedCheckpoint()
    val nDocs = documents(s, d).agg(count(lit(1)).as("n")).select(col("n"))
    val df = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= 5 &&
        col("df").cast("double") <= col("n").cast("double") * 0.6)
      .select(col("tok"), col("df"))
    // the band-passed vocabulary is still |vocab|-scale (only the
    // rare/stopword tails drop): no broadcast hint — tok-keyed join
    // is parallel at corpus scale, stats still broadcast at SF
    toks.join(df, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_toks"),
        countDistinct(col("tok")).as("kept_vocab"))
      .join(documents(s, d).select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("kept_toks"), lit(0L)).as("kept_toks"),
        coalesce(col("kept_vocab"), lit(0L)).as("kept_vocab"))
      .orderBy(col("doc_id"))
  }

  val vocabBandpassOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |nd AS (SELECT count(*) AS n FROM documents),
      |df AS (SELECT tok, count(*) AS df FROM
      |    (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1),
      |kept AS (SELECT tok FROM df CROSS JOIN nd
      |  WHERE df >= 5 AND CAST(df AS DOUBLE) <= CAST(n AS DOUBLE) * 0.6),
      |agg AS (SELECT t.doc_id, count(*) AS kept_toks,
      |    count(DISTINCT t.tok) AS kept_vocab
      |  FROM toks t JOIN kept k ON k.tok = t.tok GROUP BY 1)
      |SELECT d.doc_id, COALESCE(agg.kept_toks, 0) AS kept_toks,
      |  COALESCE(agg.kept_vocab, 0) AS kept_vocab
      |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q_winsorize — clip event values at their event_type's exact 5th
    * and 95th percentile rank positions (ceil(q·n) order statistic —
    * the same engine-identical formulation as q_outlier_iqr), with
    * per-type means before/after, showing the outlier influence.
    * Like q_outlier_iqr, the order statistics come off the contracted
    * (type, value) grid with its cumulative count from the
    * partitioned distributed prefix
    * ([[graft.operators.PrefixOps.groupedCumCounts]]) — the value at
    * rank r is the smallest value whose cumulative count reaches r —
    * never a window partitioned by the ~5-value event_type over raw
    * fact rows. */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val grid = graft.operators.PrefixOps.groupedCumCounts(
      e.select(col("event_type"), col("value")), Seq("event_type"), "value")
    val bounds = grid.groupBy(col("event_type")).agg(
      min(when(col("cum") >= ceil(lit(0.05) * col("n").cast("double")).cast("long"),
        col("value"))).as("lo"),
      min(when(col("cum") >= ceil(lit(0.95) * col("n").cast("double")).cast("long"),
        col("value"))).as("hi"))
    e.join(broadcast(bounds), "event_type")
      .withColumn("clipped", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("lo")), 4).as("p05"),
        round(max(col("hi")), 4).as("p95"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_raw"),
        round(sum(col("clipped").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_winsor"))
      .orderBy(col("event_type"))
  }

  val winsorizeOracle: String =
    """WITH ranked AS (SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |b AS (SELECT event_type,
      |    min(CASE WHEN rn = CAST(ceil(0.05*CAST(n AS DOUBLE)) AS BIGINT)
      |        THEN value END) AS lo,
      |    min(CASE WHEN rn = CAST(ceil(0.95*CAST(n AS DOUBLE)) AS BIGINT)
      |        THEN value END) AS hi
      |  FROM ranked GROUP BY 1),
      |c AS (SELECT e.event_type, e.value, b.lo, b.hi,
      |    least(greatest(e.value, b.lo), b.hi) AS clipped
      |  FROM events e JOIN b ON b.event_type = e.event_type)
      |SELECT event_type, count(*) AS n,
      |  round(max(lo), 4) AS p05, round(max(hi), 4) AS p95,
      |  -- DECIMAL cast, not round(): quantized-sum / count quotients
      |  -- can land on short-expansion rounding ties where the engines'
      |  -- round() implementations split (SURVEY.md D6)
      |  CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE) AS DECIMAL(18,4)) AS DOUBLE) AS mean_raw,
      |  CAST(CAST(CAST(sum(CAST(clipped AS DECIMAL(18,6))) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE) AS DECIMAL(18,4)) AS DOUBLE) AS mean_winsor
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_session_stats — per-session usage metrics via gaps-and-islands
    * (30-minute inactivity gap): per user, the session count, mean
    * events per session, and mean session duration in seconds — the
    * batch counterpart of the streaming session_window rows, reduced
    * to a per-user profile. */
  def sessionStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
    val marked = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts2"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts2")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sessions = marked.groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts2"))) - unix_micros(min(col("ts2"))))
          .as("dur_us"))
    sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        round(sum(col("n_events")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_events"),
        round(sum(col("dur_us")).cast("double") /
          count(lit(1)).cast("double") / 1e6, 4).as("mean_dur_sec"))
      .orderBy(col("user_id"))
  }

  val sessionStatsOracle: String =
    """WITH m AS (SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts, 1) OVER w IS NULL OR
      |      date_diff('microsecond', lag(ts, 1) OVER w, ts) > 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM m),
      |sess AS (SELECT user_id, sess_id, count(*) AS n_events,
      |    date_diff('microsecond', min(ts), max(ts)) AS dur_us
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions,
      |  -- DECIMAL cast, not round(): int/int quotients have short
      |  -- exact expansions that hit round-tie divergence (SURVEY D6)
      |  CAST(CAST(CAST(sum(n_events) AS DOUBLE)/CAST(count(*) AS DOUBLE)
      |    AS DECIMAL(18,4)) AS DOUBLE) AS mean_events,
      |  CAST(CAST(CAST(sum(dur_us) AS DOUBLE)/CAST(count(*) AS DOUBLE)/1e6
      |    AS DECIMAL(18,4)) AS DOUBLE) AS mean_dur_sec
      |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_vocab_bandpass" -> (vocabBandpass _),
    "q_winsorize" -> (winsorize _),
    "q_session_stats" -> (sessionStats _))

  val oracle: Map[String, String] = Map(
    "q_vocab_bandpass" -> vocabBandpassOracle,
    "q_winsorize" -> winsorizeOracle,
    "q_session_stats" -> sessionStatsOracle)
}
