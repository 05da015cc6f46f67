package graft

import org.apache.spark.sql.functions._
import graft.plans.LevenshteinBandRewrite

/** The levenshtein band rewrite: fires on threshold comparisons,
  * equivalent results (incl. NULLs and boundaries), kill switch.
  */
class LevenshteinBandSpec extends GraftSpecBase {

  private def fixture = {
    import spark.implicits._
    Seq(
      ("kitten", "sitting"),   // dist 3
      ("abc", "abc"),          // dist 0
      ("abc", "xyzabc"),       // dist 3
      ("a", "abcdefgh"),       // dist 7
      (null.asInstanceOf[String], "x"),
      ("x", null.asInstanceOf[String]))
      .toDF("a", "b")
  }

  // plan assertions run on the parquet-backed table: a local fixture
  // constant-folds to LocalRelation before the rewrite is observable
  test("lev(a,b) <= k rewrites to the banded form in the optimized plan") {
    val docs = Tables.documents(spark, sf)
    val df = docs.filter(expr("levenshtein(text, 'the quick fox') <= 3"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("levenshtein(text#") && opt.contains("Some(3)) >= 0"),
      s"banded threshold in plan: ${opt.take(600)}")
    // and the local fixture proves semantics (null rows drop)
    assert(fixture.filter(expr("levenshtein(a, b) <= 3")).count() == 3)
  }

  test("strict < and mirrored spellings rewrite and agree with unbounded") {
    val docs = Tables.documents(spark, sf)
    val variants = Seq(
      "levenshtein(text, 'abc') < 4" -> "Some(3)) >= 0",
      "4 > levenshtein(text, 'abc')" -> "Some(3)) >= 0",
      "3 >= levenshtein(text, 'abc')" -> "Some(3)) >= 0")
    variants.foreach { case (pred, expected) =>
      val opt = docs.filter(expr(pred))
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("levenshtein(text#") && opt.contains(expected),
        s"$pred rewrote: ${opt.take(400)}")
    }
    // semantics on the local fixture: strict < 4 keeps the dist-3 rows
    Seq("levenshtein(a, b) < 4", "4 > levenshtein(a, b)",
        "3 >= levenshtein(a, b)").foreach { pred =>
      assert(fixture.filter(expr(pred)).count() == 3, pred)
    }
  }

  test("foldable non-literal thresholds (arithmetic, cast constants) rewrite too") {
    val docs = Tables.documents(spark, sf)
    // 50 + 10 folds to 60; CAST(3 AS INT) from a smallint-ish literal
    val arith = docs.filter(expr("levenshtein(text, 'abc') <= 50 + 10"))
    assert(arith.queryExecution.optimizedPlan.toString.contains("Some(60)) >= 0"),
      arith.queryExecution.optimizedPlan.toString.take(600))
    val casted = docs.filter(
      expr("levenshtein(text, 'abc') <= cast(cast(3 as smallint) as int)"))
    assert(casted.queryExecution.optimizedPlan.toString.contains("Some(3)) >= 0"),
      casted.queryExecution.optimizedPlan.toString.take(600))
  }

  test("boundary semantics: k=0 keeps only equal strings; k<0 untouched") {
    val eq = fixture.filter(expr("levenshtein(a, b) <= 0"))
    assert(eq.count() == 1)
    // negative threshold: rule leaves the predicate alone (matches 0 rows)
    val neg = fixture.filter(expr("levenshtein(a, b) <= -1"))
    assert(neg.count() == 0)
  }

  test("kill switch restores the unbounded plan") {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.LevenshteinBandRewrite")
    try {
      val df = Tables.documents(spark, sf)
        .filter(expr("levenshtein(text, 'abc') <= 3"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains("Some(3)) >= 0"), opt.take(300))
      assert(fixture.filter(expr("levenshtein(a, b) <= 3")).count() == 3,
        "semantics unchanged either way")
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
