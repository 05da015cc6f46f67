package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.streaming.CloudTrailPipeline
import graft.streaming.CloudTrailPipeline.RecordSink

/** Batch write surface for the reference's record sink (SURVEY.md
  * §2-A A8–A9): `df.write.format("cloudtrail-sink").option("sinkClass",
  * …).save()` delivers `(partitionKey, data)` rows through
  * [[CloudTrailPipeline.deliver]], the streaming pipeline's own
  * ≤500-record drain with partial-failure retry.
  *
  * `sinkClass` names a no-arg-constructible [[RecordSink]] (the
  * Kinesis connector boundary is environment-blocked offline — SURVEY.md
  * §8.4 — so the trait is the contract). Delivery is per-task
  * at-least-once into an idempotent sink: a task retry replays its
  * partition, and a task whose retries run out fails the job. */
class CloudTrailSink extends CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "cloudtrail-sink"

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      params: Map[String, String], data: DataFrame): BaseRelation = {
    val wire = Seq("partitionKey", "data")
    val cols = data.schema.fieldNames.toSeq
    require(cols.sorted == wire.sorted,
      s"cloudtrail-sink expects (partitionKey, data) string columns, got $cols")
    val sinkClass = params.getOrElse("sinkClass", throw new IllegalArgumentException(
      "cloudtrail-sink requires option sinkClass: a no-arg RecordSink implementation"))
    val sink = Class.forName(sinkClass).getDeclaredConstructor()
      .newInstance().asInstanceOf[RecordSink]
    // by name and cast to string, as a V2 append resolves its input
    CloudTrailPipeline.deliver(
      data.select(wire.map(c => col(c).cast(StringType)): _*), sink)
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}
