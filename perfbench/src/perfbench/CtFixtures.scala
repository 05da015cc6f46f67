package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Shape of a seeded CloudTrail delivery: `files` gzip envelope files
  * of `recLo..recHi` records each (FIXTURES.md §B record shape, one
  * `{"Records":[...]}` object per file, as S3 delivers them).
  *
  * File i holds event times in [base + i·spanSec, base + (i+1)·spanSec).
  * Injected on top:
  *  - `dupFrac`: redelivered copies of records from the previous
  *    three files, verbatim. With spanSec ≤ 60 the original is at
  *    most 180 s + 300 s behind the newest time seen, inside the
  *    10-minute watermark, so the dedup state still holds it and the
  *    copy is dropped as a duplicate, never as late, whatever the
  *    trigger boundaries;
  *  - `oooFrac`: records moved 1..300 s back in time (out of order,
  *    inside the watermark, so delivered);
  *  - `late`: records a day behind the base time, only in files at
  *    or after `lateFromFile`. Those files are never in the first
  *    trigger, and every later trigger's watermark is past them, so
  *    they are always dropped as late. */
final case class CtShape(files: Int, recLo: Int, recHi: Int, dupFrac: Double,
    oooFrac: Double, late: Int, lateFromFile: Int, spanSec: Int = 60)

/** A generated delivery: gzip bytes per file, the records that must be
  * delivered (eventID → input JSON), and the injected counts. */
final class CtFixture(val files: IndexedSeq[Array[Byte]],
    val expected: java.util.HashMap[String, String], val perFile: Array[Int],
    val inputRecords: Long, val dups: Int, val late: Int, val ooo: Int) {

  def name(i: Int): String = f"123456789012_CloudTrail_us-east-1_$i%05d.json.gz"

  /** Write file i under `staging` with a fixed modification time, so
    * the file source orders files by index. */
  def stage(staging: Path, i: Int, mtimeMs: Long): Path = {
    val p = staging.resolve(name(i))
    Files.write(p, files(i))
    p.toFile.setLastModified(mtimeMs)
    p
  }

  /** Land a staged file: atomic rename into the landing directory. */
  def land(staged: Path, landing: Path): Unit = {
    Files.move(staged, landing.resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}

object CtFixtures {
  private val sources = Array("s3.amazonaws.com", "ec2.amazonaws.com",
    "iam.amazonaws.com", "sts.amazonaws.com", "kms.amazonaws.com",
    "lambda.amazonaws.com", "cloudtrail.amazonaws.com", "logs.amazonaws.com")
  private val names = Array("GetObject", "PutObject", "DescribeInstances",
    "AssumeRole", "Decrypt", "ListBuckets", "GetBucketAcl", "Invoke",
    "CreateLogStream", "LookupEvents")
  private val regions = Array("us-east-1", "us-west-2", "eu-west-1", "ap-southeast-2")
  private val agents = Array("aws-cli/2.15.0 Python/3.11", "Boto3/1.34.0",
    "aws-sdk-go/1.50.0", "console.amazonaws.com", "AWS Internal")
  private val identities = Array("IAMUser", "AssumedRole", "AWSService", "Root")
  private val Account = "123456789012"
  private val BaseEpochSec = 1704067200L // 2024-01-01T00:00:00Z

  /** File index of an eventID made by [[generate]]: its first group. */
  def fileOf(eventId: String): Int =
    if (eventId.length < 8) -1
    else try Integer.parseUnsignedInt(eventId.substring(0, 8), 16)
    catch { case _: NumberFormatException => -1 }

  private def eventId(file: Int, rec: Int, rnd: SplittableRandom): String =
    f"$file%08x-$rec%04x-4${rnd.nextInt(0x1000)}%03x-${0x8000 | rnd.nextInt(0x4000)}%04x-${rnd.nextLong() & 0xFFFFFFFFFFFFL}%012x"

  private def record(file: Int, rec: Int, epochSec: Long, rnd: SplittableRandom): (String, String) = {
    val id = eventId(file, rec, rnd)
    val user = rnd.nextInt(200)
    val src = sources(rnd.nextInt(sources.length))
    val name = names(rnd.nextInt(names.length))
    val idType = identities(rnd.nextInt(identities.length))
    val error = rnd.nextInt(20) == 0
    val readOnly = name.startsWith("Get") || name.startsWith("Describe") ||
      name.startsWith("List") || name.startsWith("Lookup")
    val time = java.time.Instant.ofEpochSecond(epochSec).toString
    val sb = new java.lang.StringBuilder(900)
    sb.append("{\"eventVersion\":\"1.08\",\"eventTime\":\"").append(time)
      .append("\",\"eventSource\":\"").append(src)
      .append("\",\"eventName\":\"").append(name)
      .append("\",\"awsRegion\":\"").append(regions(rnd.nextInt(regions.length)))
      .append("\",\"sourceIPAddress\":\"203.0.113.").append(rnd.nextInt(256))
      .append("\",\"userAgent\":\"").append(agents(rnd.nextInt(agents.length)))
      .append("\",\"userIdentity\":{\"type\":\"").append(idType)
      .append("\",\"principalId\":\"AIDA").append(f"${user}%012d")
      .append("\",\"arn\":\"arn:aws:iam::").append(Account).append(":user/u").append(user)
      .append("\",\"accountId\":\"").append(Account)
      .append("\",\"accessKeyId\":\"AKIA").append(f"${rnd.nextLong() & 0xFFFFFFFFFFL}%012X")
      .append("\"},\"requestParameters\":")
    if (rnd.nextInt(4) == 0) sb.append("null")
    else sb.append("{\"bucketName\":\"bucket-").append(rnd.nextInt(16))
      .append("\",\"key\":\"logs/").append(file).append('/').append(rec)
      .append(".json\",\"maxKeys\":").append(rnd.nextInt(1000)).append('}')
    sb.append(",\"responseElements\":")
    if (readOnly) sb.append("null")
    else sb.append("{\"x-amz-request-charged\":\"requester\",\"ok\":true}")
    sb.append(",\"requestID\":\"").append(f"${rnd.nextLong() & 0xFFFFFFFFFFFFL}%012X")
      .append("\",\"eventID\":\"").append(id)
      .append("\",\"eventType\":\"AwsApiCall\",\"recipientAccountId\":\"").append(Account)
      .append("\",\"readOnly\":").append(readOnly)
    if (error)
      sb.append(",\"errorCode\":\"AccessDenied\",\"errorMessage\":\"User: arn:aws:iam::")
        .append(Account).append(":user/u").append(user).append(" is not authorized\"")
    // fields outside the pipeline's schema, as real records carry them
    sb.append(",\"managementEvent\":true,\"eventCategory\":\"Management\"}")
    (id, sb.toString)
  }

  def generate(seed: Long, shape: CtShape): CtFixture = {
    val rnd = new SplittableRandom(Pure.mix(seed))
    val base = BaseEpochSec + (seed & 0xFF) * 86400L
    val expected = new java.util.HashMap[String, String]()
    val perFile = new Array[Int](shape.files)
    val originals = Array.fill(shape.files)(new java.util.ArrayList[String]())
    val lateFiles = (0 until shape.late).map(_ =>
      shape.lateFromFile + rnd.nextInt(math.max(1, shape.files - shape.lateFromFile)))
      .groupBy(identity).map { case (f, v) => f -> v.size }
    var inputRecords = 0L
    var dups = 0
    var ooo = 0
    var late = 0
    val files = (0 until shape.files).map { f =>
      val n = shape.recLo + rnd.nextInt(shape.recHi - shape.recLo + 1)
      val recs = new java.util.ArrayList[String](n + 8)
      var r = 0
      while (r < n) {
        var t = base + f.toLong * shape.spanSec + rnd.nextInt(shape.spanSec)
        if (rnd.nextDouble() < shape.oooFrac) { t -= 1 + rnd.nextInt(300); ooo += 1 }
        val (id, json) = record(f, r, t, rnd)
        expected.put(id, json)
        originals(f).add(json)
        recs.add(json)
        perFile(f) += 1
        r += 1
      }
      if (f > 0) {
        val nd = (0 until n).count(_ => rnd.nextDouble() < shape.dupFrac)
        (0 until nd).foreach { _ =>
          val from = math.max(0, f - 3) + rnd.nextInt(math.min(3, f))
          val src = originals(from)
          recs.add(src.get(rnd.nextInt(src.size)))
          dups += 1
        }
      }
      (0 until lateFiles.getOrElse(f, 0)).foreach { _ =>
        val t = base - 86400L - rnd.nextInt(3600)
        recs.add(record(f, r, t, rnd)._2)
        r += 1
        late += 1
      }
      // seeded shuffle: copies and late rows sit anywhere in the file
      var i = recs.size - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val tmp = recs.get(i); recs.set(i, recs.get(j)); recs.set(j, tmp)
        i -= 1
      }
      inputRecords += recs.size
      gzip("{\"Records\":[" + String.join(",", recs) + "]}\n")
    }
    new CtFixture(files, expected, perFile, inputRecords, dups, late, ooo)
  }

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream(s.length / 6)
    val gz = new GZIPOutputStream(bos, 1 << 16)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    bos.toByteArray
  }

  // ----------------------------------------------------------------
  // delivery check
  // ----------------------------------------------------------------

  private val schemaFields: Set[String] =
    graft.streaming.CloudTrailPipeline.recordSchema.fieldNames.toSet
  private val rawJsonFields = Set("requestParameters", "responseElements")

  /** A record as a comparable tree: schema fields only, nulls dropped,
    * the event time as an instant, raw-JSON payload strings parsed. */
  private def canon(mapper: ObjectMapper, n: JsonNode): JsonNode = {
    val out = mapper.createObjectNode()
    n.fields().forEachRemaining { e =>
      val k = e.getKey
      val v = e.getValue
      if (schemaFields(k) && v != null && !v.isNull) {
        if (k == "eventTime")
          out.put(k, java.time.Instant.parse(v.asText()).toString)
        else if (rawJsonFields(k) && v.isTextual) out.set[JsonNode](k, mapper.readTree(v.asText()))
        else if (v.isObject) {
          val o = mapper.createObjectNode()
          v.fields().forEachRemaining(s => if (!s.getValue.isNull) o.set[JsonNode](s.getKey, s.getValue))
          out.set[JsonNode](k, o)
        } else out.set[JsonNode](k, v)
      }
    }
    out
  }

  final case class Check(attempted: Long, missing: Long, wrong: Long,
      unexpected: Long, doubled: Long) {
    def failed: Long = missing + wrong + unexpected + doubled
  }

  /** Delivered (partitionKey, data) pairs against the generator: every
    * expected record delivered once with the same content, and
    * nothing else delivered. */
  def check(fx: CtFixture, sink: SinkState): Check = {
    val mapper = new ObjectMapper()
    var missing = 0L
    var wrong = 0L
    fx.expected.forEach { (id, json) =>
      val got = sink.delivered.get(id)
      if (got == null) missing += 1
      else {
        val a = canon(mapper, mapper.readTree(json))
        val b = try canon(mapper, mapper.readTree(got))
          catch { case _: Exception => mapper.createObjectNode(): ObjectNode }
        if (a != b) wrong += 1
      }
    }
    var unexpected = 0L
    sink.delivered.keySet().forEach(k => if (!fx.expected.containsKey(k)) unexpected += 1)
    Check(fx.expected.size.toLong, missing, wrong, unexpected, sink.doubleDelivered.get)
  }
}
