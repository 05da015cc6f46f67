package graft

import graft.queries.FeatureEngQueries

/** q_feature_corr on tiny lineitem fixtures: a correlation that rounds
  * to zero keeps its sign, as DuckDB's binary `round` does in the
  * oracle (Spark's BigDecimal-based round alone would give +0.0). */
class FeatureCorrSpec extends GraftSpecBase {

  /** The corr of (quantity, discount) over a 4-row lineitem. The
    * discounts make Σ(q − q̄)·d = ∓1.5e-6, so |corr| ≈ 3.4e-7 and the
    * 6-place round is zero. */
  private def quantityDiscount(sign: Double): Double = {
    val dir = java.nio.file.Files.createTempDirectory("feature-corr").toString
    import spark.implicits._
    Seq((1.0, sign * 1.0, 10.0, 0.01), (2.0, -sign * 1.0, 20.0, 0.03),
      (3.0, -sign * 1.0, 35.0, 0.02), (4.0, sign * 0.999999, 41.0, 0.05))
      .toDF("l_quantity", "l_discount", "l_extendedprice", "l_tax")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    FeatureEngQueries.featureCorr(spark, dir).collect()
      .find(r => r.getString(0) == "quantity" && r.getString(1) == "discount")
      .get.getDouble(2)
  }

  test("q_feature_corr: a correlation rounding to zero keeps its sign") {
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(bits(quantityDiscount(1.0)) == bits(-0.0), "negative side must be -0.0")
    assert(bits(quantityDiscount(-1.0)) == bits(0.0), "positive side must be +0.0")
  }
}
