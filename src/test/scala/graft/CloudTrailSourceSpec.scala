package graft

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RowDataSourceScanExec

import graft.sources.CloudTrailRelation
import graft.streaming.CloudTrailPipeline

/** The batch source must compute the SAME relation as the
  * text-source + decodeEnvelopes route (the streaming path), and
  * must prune columns at the scan. */
class CloudTrailSourceSpec extends GraftSpecBase {

  private def envelope(ids: String*): String =
    s"""{"Records": [${ids.map(i =>
        s"""{"eventID": "$i", "eventName": "PutObject", "eventTime": "2024-01-01T00:0${i.take(1)}:00Z", "eventSource": "s3.amazonaws.com", "awsRegion": "us-west-2", "readOnly": ${i.toInt % 2 == 0}, "userIdentity": {"type": "IAMUser", "principalId": "p$i", "arn": "arn:$i", "accountId": "a$i", "accessKeyId": "k$i"}, "requestParameters": {"bucketName": "b$i"}}""")
      .mkString(",")}]}"""

  private def writeGz(dir: File, name: String, content: String): Unit = {
    val w = new OutputStreamWriter(new GZIPOutputStream(
      new FileOutputStream(new File(dir, name))), "UTF-8")
    w.write(content + "\n"); w.close()
  }

  private def fixtureDir(): File = {
    val dir = File.createTempFile("ctsrc", "")
    dir.delete(); dir.mkdirs()
    writeGz(dir, "f1.json.gz", envelope("1", "2", "3"))
    writeGz(dir, "f2.json.gz", envelope("4"))
    // malformed line + empty envelope: must be skipped, not poison
    writeGz(dir, "f3.json.gz",
      Seq("{not json", """{"Records": []}""", envelope("5")).mkString("\n"))
    dir
  }

  private def viaSource(dir: File): DataFrame =
    spark.read.format("cloudtrail").load(dir.getAbsolutePath)

  private def viaText(dir: File): DataFrame =
    CloudTrailPipeline.decodeEnvelopes(
      spark.read.text(dir.getAbsolutePath + "/*.json.gz"))

  test("source relation equals text+decodeEnvelopes relation") {
    val dir = fixtureDir()
    val a = viaSource(dir).orderBy("eventID")
    val b = viaText(dir).orderBy("eventID")
    assert(a.schema == b.schema)
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(a.count() == 5)
  }

  test("nested and payload fields decode faithfully") {
    val dir = fixtureDir()
    val r = viaSource(dir).filter("eventID = '2'").collect().head
    assert(r.getAs[org.apache.spark.sql.Row]("userIdentity")
      .getAs[String]("principalId") == "p2")
    assert(r.getAs[Boolean]("readOnly"))
    assert(r.getAs[String]("requestParameters").contains("\"bucketName\""))
    assert(r.getAs[java.sql.Timestamp]("eventTime") != null)
  }

  test("column pruning reaches the scan (PrunedScan)") {
    val dir = fixtureDir()
    val pruned = viaSource(dir).select("eventName")
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: RowDataSourceScanExec if s.relation.isInstanceOf[CloudTrailRelation] => s
    }
    assert(scans.size == 1)
    assert(scans.head.requiredSchema.fieldNames.toSeq == Seq("eventName"))
    assert(pruned.collect().length == 5)
    assert(pruned.orderBy("eventName").collect().toSeq ==
      viaText(dir).select("eventName").orderBy("eventName").collect().toSeq)
  }

  test("a nested field reads the same as the text route") {
    val dir = fixtureDir()
    val a = viaSource(dir).select("eventID", "userIdentity.arn").orderBy("eventID")
    val b = viaText(dir).select("eventID", "userIdentity.arn").orderBy("eventID")
    assert(a.schema == b.schema)
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(a.collect().map(_.getString(1)).toSeq ==
      Seq("arn:1", "arn:2", "arn:3", "arn:4", "arn:5"))
  }

  test("a non-ISO eventTime is null in its record alone") {
    val dir = fixtureDir()
    writeGz(dir, "f4.json.gz",
      envelope("6", "7", "8").replace("2024-01-01T00:07:00Z", "yesterday"))
    val a = viaSource(dir).orderBy("eventID")
    val b = viaText(dir).orderBy("eventID")
    assert(a.schema == b.schema)
    assert(a.collect().toSeq == b.collect().toSeq)
    val rows = a.collect()
    assert(rows.map(_.getAs[String]("eventID")).toSeq == (1 to 8).map(_.toString))
    val r7 = rows.find(_.getAs[String]("eventID") == "7").get
    assert(r7.getAs[java.sql.Timestamp]("eventTime") == null)
    assert(r7.getAs[org.apache.spark.sql.Row]("userIdentity").getAs[String]("arn") == "arn:7")
    assert(rows.filter(_.getAs[String]("eventID") != "7")
      .forall(_.getAs[java.sql.Timestamp]("eventTime") != null))
  }

  test("a user-specified schema is rejected, not ignored") {
    val dir = fixtureDir()
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.format("cloudtrail").schema("eventName STRING")
        .load(dir.getAbsolutePath).collect()
    }
  }

  test("count(*) with empty projection still yields one row per record") {
    val dir = fixtureDir()
    assert(viaSource(dir).count() == 5)
  }
}
