package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #60: LLM-pipeline dashboard completions — the
  * n-gram coverage curve (corpus-level benchmark-leakage view beside
  * q_contamination's per-doc report), the exact-duplicate family-size
  * histogram (how much of the corpus sits in dup families of size 2,
  * 3, …, the dedup-savings estimator), and tokenizer fertility
  * (regex-token / whitespace-token ratio per language — the
  * tokenizer-cost planning metric).
  *
  * Scale notes (100 TB): coverage joins DISTINCT test n-grams to
  * distinct train n-grams per n (token-keyed equi-joins on contracted
  * gram sets — the q_contamination shape, aggregated one level
  * higher); the histogram is two stacked groupBys (sha2 → family
  * size → size frequency), all-keyed; fertility is a per-row
  * projection (codegen'd space_tokens + regexp_extract_all) folded
  * into a |langs|-row mean. Nothing retains raw rows.
  *
  * Determinism: grams are exact strings off the shared tokenizer;
  * counts exact longs; ratios round at 6dp into per-lang DECIMAL
  * means (D2).
  */
object LlmExtraQueries extends QueryFamily {

  /** q_ngram_coverage — for n = 1, 2, 3: the fraction of the test
    * half's DISTINCT word n-grams that appear anywhere in the train
    * half (md5-bucket split, test = buckets e/f — the q_train_split
    * rule). The corpus-level leakage curve. */
  def ngramCoverage(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("bucket"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // the exploded+windowed token frame feeds all three n-gram levels
    // (two branches each) — materialize once (round-8 scan gate: was
    // 9 documents scans re-running the explode+lead window)
    import graft.operators.CacheOps.CheckpointSyntax
    val grams = toks
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .truncatedCheckpoint()
    def level(n: Int): DataFrame = {
      val gram = n match {
        case 1 => col("tok")
        case 2 => when(col("t1").isNotNull,
          concat_ws(" ", col("tok"), col("t1")))
        case 3 => when(col("t2").isNotNull,
          concat_ws(" ", col("tok"), col("t1"), col("t2")))
      }
      val g = grams.select(col("bucket"), gram.as("gram"))
        .filter(col("gram").isNotNull)
      val test = g.filter(col("bucket").isin("e", "f"))
        .select(col("gram")).distinct()
      val train = g.filter(!col("bucket").isin("e", "f"))
        .select(col("gram")).distinct()
      test.join(train, Seq("gram"), "left_semi")
        .agg(count(lit(1)).as("covered"))
        .crossJoin(broadcast(test.agg(count(lit(1)).as("n_test"))))
        .select(lit(n).as("n"), col("n_test"), col("covered"),
          round(col("covered").cast("double")
            / col("n_test").cast("double"), 6).as("coverage"))
    }
    level(1).unionAll(level(2)).unionAll(level(3)).orderBy(col("n"))
  }

  val ngramCoverageOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |grams AS (SELECT doc_id, bucket, tok,
      |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
      |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      |  FROM toks),
      |lv AS (
      |  SELECT 1 AS n, bucket, tok AS gram FROM grams
      |  UNION ALL
      |  SELECT 2, bucket, tok || ' ' || t1 FROM grams WHERE t1 IS NOT NULL
      |  UNION ALL
      |  SELECT 3, bucket, tok || ' ' || t1 || ' ' || t2 FROM grams
      |  WHERE t2 IS NOT NULL),
      |test AS (SELECT DISTINCT n, gram FROM lv WHERE bucket IN ('e','f')),
      |train AS (SELECT DISTINCT n, gram FROM lv
      |  WHERE bucket NOT IN ('e','f')),
      |agg AS (SELECT t.n,
      |    CAST(count(*) AS BIGINT) AS n_test,
      |    CAST(count(tr.gram) AS BIGINT) AS covered
      |  FROM test t LEFT JOIN train tr ON tr.n = t.n AND tr.gram = t.gram
      |  GROUP BY t.n)
      |SELECT n, n_test, covered,
      |  round(CAST(covered AS DOUBLE)/CAST(n_test AS DOUBLE), 6)
      |    AS coverage
      |FROM agg ORDER BY n""".stripMargin

  /** q_dup_size_hist — exact-duplicate family sizes (sha2 of text)
    * and their frequencies: families of size s, docs trapped in them,
    * and the dedup savings (docs − families) per size. */
  def dupSizeHist(s: SparkSession, d: String): DataFrame = {
    val fam = documents(s, d)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("sz"))
    fam.groupBy(col("sz")).agg(count(lit(1)).as("n_families"))
      .select(col("sz"), col("n_families"),
        (col("sz") * col("n_families")).as("docs"),
        ((col("sz") - 1) * col("n_families")).as("removable"))
      .orderBy(col("sz"))
  }

  val dupSizeHistOracle: String =
    """WITH fam AS (SELECT sha256(text) AS h,
      |    CAST(count(*) AS BIGINT) AS sz
      |  FROM documents GROUP BY 1)
      |SELECT sz, CAST(count(*) AS BIGINT) AS n_families,
      |  sz * CAST(count(*) AS BIGINT) AS docs,
      |  (sz - 1) * CAST(count(*) AS BIGINT) AS removable
      |FROM fam GROUP BY sz ORDER BY sz""".stripMargin

  /** q_tokenizer_fertility — per-language mean ratio of BPE-ish
    * regex tokens ([A-Za-z]+ | digit runs | single punctuation) to
    * whitespace tokens: the "how many subword units per word" cost
    * estimate, via the codegen'd space_tokens expression. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val rx = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    val t = documents(s, d).select(col("lang"),
      graft.functions.expressions.SpaceTokens.spaceTokens(col("text"))
        .as("ws_toks"),
      size(regexp_extract_all(col("text"), lit(rx), lit(0))).as("rx_toks"))
    t.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("rx_toks")).as("rx_total"),
        sum(col("ws_toks")).as("ws_total"),
        sum(round(col("rx_toks").cast("double")
            / col("ws_toks").cast("double"), 6).cast("decimal(18,6)"))
          .cast("double").as("ratio_sum"))
      .select(col("lang"), col("n_docs"), col("rx_total"), col("ws_total"),
        round(col("ratio_sum") / col("n_docs").cast("double"), 6)
          .as("fertility"))
      .orderBy(col("lang"))
  }

  val tokenizerFertilityOracle: String =
    """WITH t AS (SELECT lang,
      |    len(string_split(text, ' ')) AS ws_toks,
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
      |      AS rx_toks
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(rx_toks) AS BIGINT) AS rx_total,
      |  CAST(sum(ws_toks) AS BIGINT) AS ws_total,
      |  round(CAST(sum(CAST(round(CAST(rx_toks AS DOUBLE)
      |      /CAST(ws_toks AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS fertility
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ngram_coverage" -> (ngramCoverage _),
    "q_dup_size_hist" -> (dupSizeHist _),
    "q_tokenizer_fertility" -> (tokenizerFertility _))

  val oracle: Map[String, String] = Map(
    "q_ngram_coverage" -> ngramCoverageOracle,
    "q_dup_size_hist" -> dupSizeHistOracle,
    "q_tokenizer_fertility" -> tokenizerFertilityOracle)
}
