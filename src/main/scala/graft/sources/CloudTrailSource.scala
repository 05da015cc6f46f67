package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, PrunedScan, RelationProvider}
import org.apache.spark.sql.types.StructType

import graft.streaming.CloudTrailPipeline

/** `spark.read.format("cloudtrail").load(dir)`: the reference's input
  * format — gzipped JSON envelope files, each line `{"Records":
  * [record…]}` (SURVEY.md §2-A A2–A6) — as a relation over the
  * stream's own decoder, [[CloudTrailPipeline.decodeEnvelopes]] on
  * `spark.read.text`. Spark's text source packs the small delivery
  * files into partitions; the scan keeps the top-level columns the
  * query asks for. */
class CloudTrailSource extends RelationProvider with DataSourceRegister {
  override def shortName(): String = "cloudtrail"

  override def createRelation(ctx: SQLContext,
      params: Map[String, String]): BaseRelation =
    CloudTrailRelation(params("path"))(ctx)
}

final case class CloudTrailRelation(path: String)(
    @transient val sqlContext: SQLContext) extends BaseRelation with PrunedScan {
  override def schema: StructType = CloudTrailPipeline.recordSchema
  override def needConversion: Boolean = false

  /** Rows are the decoder's own internal rows (`needConversion` false). */
  override def buildScan(cols: Array[String]): RDD[Row] =
    CloudTrailPipeline.decodeEnvelopes(sqlContext.sparkSession.read.text(path))
      .select(cols.toIndexedSeq.map(col): _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
}
