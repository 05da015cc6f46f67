package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.{FloatVecDot, NGramShingles}

/** Custom-expression tests: bit-compat of the codegen'd dot with the
  * declarative higher-order form, and the n-gram Generator against
  * its zip_with twin. */
class ExpressionSpec extends GraftSpecBase {
  import spark.implicits._

  test("FloatVecDot is bit-identical to the aggregate/zip_with fold") {
    val e = Tables.embeddings(spark, sf)
    val ho = aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val diff = e.select(
        FloatVecDot.dot(col("embedding"), col("embedding")).as("a"),
        ho.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() === 0)
  }

  test("FloatVecDot handles nulls and runs inside codegen") {
    val df = Seq(
      (Some(Array(1f, 2f)), Some(Array(3f, 4f))),
      (None, Some(Array(1f))),
      (Some(Array(1f)), None)
    ).toDF("a", "b")
    val out = df.select(FloatVecDot.dot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) === 11.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("JaroWinkler matches the DuckDB-probed reference values") {
    import graft.functions.expressions.JaroWinkler
    // values probed from DuckDB jaro_winkler_similarity 2026-08-13 —
    // they pin the window, FLOORED transpositions, 0.7 boost
    // threshold, and the empty-string-is-0 convention
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("large rod", "new rod", 0.6899470899470899), // floored t=⌊3/2⌋
      ("abcdefgh", "abzzzzzz", 0.5),                // no boost at jaro ≤ 0.7
      ("abc", "abc", 1.0),
      ("ab", "ba", 0.0),
      ("", "abc", 0.0),
      ("", "", 0.0))
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(JaroWinkler.jw(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b, want), g) =>
      assert(math.abs(g - want) < 1e-12, s"jw($a, $b) = $g, want $want")
    }
    // nulls propagate
    val n = Seq((Some("x"), None: Option[String]))
      .toDF("a", "b").select(JaroWinkler.jw(col("a"), col("b"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("jaro_winkler is registered as a SQL function and codegen agrees with eval") {
    val got = spark.sql(
      "SELECT round(jaro_winkler('martha', 'marhta'), 10)").collect()(0).getDouble(0)
    assert(math.abs(got - 0.9611111111) < 1e-9)
    // interpreted path (codegen off) must agree bit-for-bit
    val df = Tables.part(spark, sf)
      .select(lower(col("p_name")).as("nm")).limit(200)
    val on = df.select(
      graft.functions.expressions.JaroWinkler.jw(col("nm"), lit("large rod"))).collect()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val off = df.select(
        graft.functions.expressions.JaroWinkler.jw(col("nm"), lit("large rod"))).collect()
      assert(on.map(_.getDouble(0)).toSeq == off.map(_.getDouble(0)).toSeq)
    }
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("VecDotRewrite rule substitutes the codegen kernel for the declarative fold") {
    val e = Tables.embeddings(spark, sf)
    def declarative = e.select(aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x).as("d"))
    val optimized = declarative.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[FloatVecDot])),
      s"expected FloatVecDot in optimized plan:\n$optimized")
    // results identical to the unrewritten form
    spark.conf.set("spark.graft.vecdot.rewrite", "false")
    try {
      val off = declarative.queryExecution.optimizedPlan
      assert(!off.expressions.exists(_.exists(_.isInstanceOf[FloatVecDot])),
        "conf off must disable the rewrite")
      val a = declarative.collect().map(_.getDouble(0))
      spark.conf.set("spark.graft.vecdot.rewrite", "true")
      val b = declarative.collect().map(_.getDouble(0))
      assert(a.sameElements(b), "rewrite changed results")
    } finally spark.conf.set("spark.graft.vecdot.rewrite", "true")
  }

  test("KmvDistinct estimates within KMV error bounds and is partition-invariant") {
    import graft.functions.expressions.KmvDistinct
    val li = Tables.lineitem(spark, sf)
    val exact = li.select(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
    val est = li.select(KmvDistinct.kmv(col("l_orderkey").cast("string"), 256)
      .as("e")).collect()(0).getDouble(0)
    // KMV relative standard error ~ 1/sqrt(k-2) ≈ 6.3% at k=256; 4σ bound
    assert(math.abs(est - exact) / exact < 0.25, s"est=$est exact=$exact")
    // merge correctness: estimate must not depend on partitioning
    val est2 = li.repartition(7).select(
      KmvDistinct.kmv(col("l_orderkey").cast("string"), 256).as("e"))
      .collect()(0).getDouble(0)
    assert(est === est2)
    // exact mode below k distinct values
    val small = li.limit(50).select(
      KmvDistinct.kmv(col("l_orderkey").cast("string"), 256).as("e"),
      countDistinct(col("l_orderkey")).as("n")).collect()(0)
    assert(small.getDouble(0) === small.getLong(1).toDouble)
  }

  test("kmv_distinct is registered as a SQL function") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_kmv")
    val r = spark.sql(
      "SELECT kmv_distinct(CAST(l_orderkey AS STRING), 256) FROM li_kmv")
      .collect()(0).getDouble(0)
    assert(r > 0)
  }

  test("ngram_shingles is registered as a SQL generator") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_ng")
    val n = spark.sql(
      """SELECT doc_id, s.shingle
        |FROM docs_ng LATERAL VIEW
        |  ngram_shingles(split(lower(text), ' '), 2) s AS shingle""".stripMargin)
      .count()
    // one bigram per adjacent token pair across the corpus
    val expected = Tables.documents(spark, sf)
      .select((size(split(col("text"), " ")) - 1).as("k"))
      .agg(sum(col("k"))).collect()(0).getLong(0)
    assert(n === expected)
  }

  test("NGramShingles(2) matches the zip_with bigram formulation") {
    val toks = split(lower(col("text")), " ")
    val docs = Tables.documents(spark, sf)
    val viaGen = docs.select(col("doc_id"),
        NGramShingles.shingles(split(lower(col("text")), " "), 2).as("bg"))
      .groupBy("doc_id").count()
    val viaZip = docs.select(col("doc_id"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit("_"), b))).as("bg"))
      .groupBy("doc_id").count()
    val joined = viaGen.as("g").join(viaZip.as("z"), "doc_id")
      .filter(col("g.count") =!= col("z.count"))
    assert(joined.count() === 0)
    // and the shingle VALUES match
    val g = docs.select(NGramShingles.shingles(toks, 2).as("s"))
      .groupBy("s").count().orderBy("s").collect()
    val z = docs.select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit("_"), b))).as("s"))
      .groupBy("s").count().orderBy("s").collect()
    assert(g.map(r => (r.getString(0), r.getLong(1))).toSeq ===
           z.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("NGramShingles(3) produces m-n+1 shingles per doc") {
    val df = Seq((1L, "a b c d e")).toDF("id", "text")
    val out = df.select(
      NGramShingles.shingles(split(col("text"), " "), 3).as("s")).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a_b_c", "b_c_d", "c_d_e"))
  }
}
