package graft

/** Every declared query runs at sf0.001 and yields a stable,
  * non-degenerate result (empty is allowed only for threshold
  * queries whose sf0.001 data genuinely has no qualifying pairs). */
class QueriesSmokeSpec extends GraftSpecBase {

  private val mayBeEmpty = Set("q_dedup_ngram", "q_dedup_embed", "q_dedup_minhash")

  test("queries and oracleSql keys line up") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o -- q}")
    // per family: every query has its oracle, except the capability
    // family's, which are exactly the queries without one
    val capability = graft.queries.CapabilityQueries
    SparkEntry.families.filter(_ ne capability).foreach { f =>
      assert(f.oracle.keySet === f.queries.keySet, f.getClass.getName)
    }
    assert(capability.oracle.isEmpty)
    assert(capability.queries.keySet === q -- o)
    assert((q -- o).size === 9)
  }

  test("a query name declared by two families is an error naming both") {
    import QueriesSmokeSpec.{FamilyA, FamilyB}
    val e = intercept[IllegalArgumentException](
      SparkEntry.merge(Seq(FamilyA, FamilyB)))
    assert(e.getMessage.contains("query q_twin is declared by FamilyA and FamilyB"),
      e.getMessage)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      // (cross-run determinism is the oracle gate's job — tools/check.sh)
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

object QueriesSmokeSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  private def one(s: SparkSession, d: String): DataFrame = s.range(1).toDF()

  object FamilyA extends graft.queries.QueryFamily {
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map("q_a" -> one, "q_twin" -> one)
    val oracle: Map[String, String] = Map("q_a" -> "SELECT 0", "q_twin" -> "SELECT 0")
  }

  object FamilyB extends graft.queries.QueryFamily {
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map("q_twin" -> one)
    val oracle: Map[String, String] = Map("q_twin" -> "SELECT 0")
  }
}
