package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.Md5Bucket

/** Md5Bucket: the codegen'd digest kernel must be value-identical to
  * the portable instr/substr SQL spelling the oracle keeps using
  * (6 hex chars = top 3 md5 bytes), across moduli, code paths, and
  * null inputs.
  */
class Md5BucketSpec extends GraftSpecBase {

  /** The shared SQL construction (MixSampleQueries/DedupQueries
    * convention) — evaluated by Spark here, by DuckDB in oracles. */
  private def hexvalSql(m: String): String =
    (1 to 6).map(j =>
      s"(instr('0123456789abcdef', substr($m, $j, 1)) - 1) * ${math.pow(16, 6 - j).toLong}"
    ).mkString("(", " + ", ")")

  test("md5_bucket equals the instr/substr hex parse for every key and modulus") {
    val keys = Tables.orders(spark, sf)
      .select(col("o_orderkey").cast("string").as("k"))
      .union(Tables.documents(spark, sf)
        .select(concat(col("source"), lit(":"), col("doc_id")).as("k")))
    Seq(2, 5, 16, 1000, Md5Bucket.Raw).foreach { m =>
      val mism = keys
        .withColumn("fast", Md5Bucket.md5Bucket(col("k"), lit(m)))
        .withColumn("slow", expr(s"${hexvalSql("md5(k)")} % $m"))
        .where(col("fast") =!= col("slow")).count()
      assert(mism == 0, s"mod $m: digest kernel diverges from hex parse")
    }
  }

  test("codegen and interpreted paths agree; nulls propagate") {
    val df = Tables.documents(spark, sf)
      .select(col("text").as("k")).limit(300)
    val on = df.select(Md5Bucket.md5Bucket(col("k"), lit(97))).collect()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val off = df.select(Md5Bucket.md5Bucket(col("k"), lit(97))).collect()
      assert(on.map(_.getLong(0)).toSeq == off.map(_.getLong(0)).toSeq)
    }
    val n = spark.range(1).select(
      Md5Bucket.md5Bucket(lit(null).cast("string"), lit(5))).collect()
    assert(n(0).isNullAt(0), "null key gives null bucket")
  }

  test("md5_bucket is registered as a SQL function and buckets are balanced-ish") {
    val dist = spark.sql(
      """SELECT md5_bucket(CAST(id AS STRING), 10) AS b, count(*) AS n
        |FROM range(10000) GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(dist.length == 10, "all 10 buckets populated")
    dist.foreach(r => assert(r.getLong(1) > 500 && r.getLong(1) < 1500,
      "uniform-ish split"))
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
}
