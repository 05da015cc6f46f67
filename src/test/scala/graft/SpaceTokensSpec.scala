package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.SpaceTokens

/** SpaceTokens must equal `size(split(s, " "))` exactly — including
  * empty segments, leading/trailing spaces, and multibyte text — in
  * both the interpreted and codegen paths, and through the SQL
  * registration. */
class SpaceTokensSpec extends GraftSpecBase {

  test("kernel equals size(split) on every document") {
    val docs = Tables.documents(spark, sf)
    val diff = docs.select(
        SpaceTokens.spaceTokens(col("text")).as("k"),
        size(split(col("text"), " ")).as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(diff == 0L)
  }

  test("edge cases: empties, runs of spaces, multibyte") {
    val s = spark
    import s.implicits._
    val cases = Seq("", " ", "  ", "a", "a b", " a b ", "a  b",
      "héllo wörld", "日本 語 テスト", "tab\tnot a space")
    val df = cases.toDF("t").select(
      SpaceTokens.spaceTokens(col("t")).as("k"),
      size(split(col("t"), " ")).as("c"))
    df.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("SQL registration and codegen-vs-interpreted agreement") {
    val s = spark
    import s.implicits._
    val viaSql = Seq("a b c", "", " x ").toDF("t")
      .createOrReplaceTempView("st_probe")
    val got = spark.sql("SELECT space_tokens(t) AS k FROM st_probe")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(3, 1, 3))
    // interpreted path
    import org.apache.spark.unsafe.types.UTF8String
    assert(SpaceTokens.count(UTF8String.fromString("a b c")) == 3)
    assert(SpaceTokens.count(UTF8String.fromString("")) == 1)
  }

  test("null propagates") {
    val s = spark
    import s.implicits._
    val r = Seq[Option[String]](None, Some("a b")).toDF("t")
      .select(SpaceTokens.spaceTokens(col("t")).as("k")).collect()
    assert(r(0).isNullAt(0) || r(1).isNullAt(0) == false)
    assert(r.exists(_.isNullAt(0)) && r.exists(x => !x.isNullAt(0)))
  }
}
