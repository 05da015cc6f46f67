package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of graded queries: each query's DataFrame function and, under
  * the same name, the DuckDB SQL that must produce the same rows.
  * [[graft.SparkEntry]] lists every family once. A family whose results
  * cannot hash-match an oracle (CapabilityQueries) states an empty
  * `oracle`; there is no default. */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
