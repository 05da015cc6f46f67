package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for LLM training-data pipelines
  * (north-star extension): image/audio/video payloads as opaque
  * `BinaryType` columns + typed metadata, with decode / feature
  * extraction / resize / frame-sampling as partition-local batch
  * transforms.
  *
  * The actual codecs (JPEG/PNG/ffmpeg) are NOT in this container, so
  * [[FakeCodec]] is a clearly-marked deterministic stand-in: it
  * derives pixels/samples from the byte content alone, making every
  * downstream shape — schema, partitioning, batch iteration, feature
  * vectors — real and testable. Swap [[FakeCodec]] for a JNI/library
  * codec and nothing else changes.
  *
  * Scale notes:
  *  - Binary payloads stay columnar in Parquet and are NEVER
  *    collected: all transforms are `mapPartitions` over the typed
  *    Dataset, i.e. executor-local, streaming one partition at a
  *    time (the Scala analog of a batched pandas UDF).
  *  - Feature vectors come out as `Array[Float]` — the same layout
  *    the similarity operators (q_sim_*, q_dedup_embed) consume, so
  *    decode → embed → LSH dedup composes into one pipeline.
  *  - Partitioning: payloads are large blobs; repartition by
  *    `media_id` bucket count sized so a partition's blobs fit in
  *    executor memory (`targetPartitionBytes`), not by row count.
  */
object Multimodal {

  /** One media record: opaque bytes + typed envelope (the multimodal
    * analog of the CloudTrail record's fixed-envelope/open-payload
    * split — SURVEY.md §1.1). */
  case class MediaRecord(
      mediaId: Long,
      modality: String,          // "image" | "audio" | "video"
      mimeType: String,
      width: Int,                // 0 when unknown/not applicable
      height: Int,
      durationMs: Long,
      bytes: Array[Byte])

  case class MediaFeatures(
      mediaId: Long,
      modality: String,
      nBytes: Long,
      checksum: Long,
      features: Array[Float])

  /** Deterministic stand-in for the real decoders. Everything is a
    * pure function of the payload bytes — stable across runs,
    * partitionings, and engines. */
  object FakeCodec {
    val FeatureDim = 16

    /** "Decode" bytes to a feature vector: a banded byte histogram,
      * L1-normalized. A real impl would decode pixels/samples first;
      * the signature and batch shape are identical. */
    def features(bytes: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](FeatureDim)
      var i = 0
      while (i < bytes.length) {
        hist((bytes(i) & 0xff) % FeatureDim) += 1f
        i += 1
      }
      val n = math.max(1, bytes.length).toFloat
      hist.map(_ / n)
    }

    def checksum(bytes: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }

    /** "Resize": real impl decodes + rescales pixels; stand-in keeps
      * a deterministic byte subsample preserving the aspect request. */
    def resize(r: MediaRecord, w: Int, h: Int): MediaRecord = {
      val target = math.max(1, math.min(r.bytes.length, w * h))
      val step = math.max(1, r.bytes.length / target)
      r.copy(width = w, height = h,
        bytes = r.bytes.grouped(step).map(_.head).take(target).toArray)
    }

    /** Frames per video are capped so derived frame ids
      * (mediaId·MaxFrames+k) never collide across videos. */
    val MaxFrames = 1 << 20

    /** "Frame-sample" a video every `everyMs`: one pseudo-frame per
      * interval, each a deterministic slice of the payload. */
    def sampleFrames(r: MediaRecord, everyMs: Long): Seq[MediaRecord] = {
      val n = math.min(MaxFrames.toLong,
        math.max(1, r.durationMs / math.max(1, everyMs))).toInt
      (0 until n).map { k =>
        val from = (r.bytes.length.toLong * k / n).toInt
        val until = (r.bytes.length.toLong * (k + 1) / n).toInt
        r.copy(mediaId = r.mediaId * MaxFrames + k, modality = "image",
          durationMs = 0, bytes = r.bytes.slice(from, until))
      }
    }
  }

  /** Decode + featurize, partition-local and batched (the
    * mapPartitions shape a real codec needs: amortize per-batch init
    * — codec contexts, buffers — across the partition). */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real impl: open codec context once per partition here
      it.map { r =>
        MediaFeatures(r.mediaId, r.modality, r.bytes.length.toLong,
          FakeCodec.checksum(r.bytes), FakeCodec.features(r.bytes))
      }
    }
  }

  /** Resize a batch of images (partition-local). */
  def resizeAll(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(FakeCodec.resize(_, w, h)))
  }

  /** Explode videos into sampled pseudo-frames (partition-local
    * generator — the multimodal analog of the Records[] fan-out). */
  def sampleFrames(media: Dataset[MediaRecord], everyMs: Long): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "video")
      .mapPartitions(_.flatMap(FakeCodec.sampleFrames(_, everyMs)))
  }

  /** The composition the module's scaladoc promises, as ONE flow
    * (round-8 verdict item 7): decode → feature vector → sign-LSH
    * near-dup clustering. Each record is bucketed by
    * [[graft.functions.Ann.bucketCol]] over its [[FakeCodec]]
    * features (deterministic hyperplanes, seed-fixed); the cluster
    * representative is the min mediaId per bucket, computed by a
    * map-side-combinable aggregate and joined back ON THE BUCKET KEY.
    * Scale shape: both the aggregate and the join partition on
    * `bucket`, whose cardinality is 2^bits — `bits` is the deployment
    * dial sized so buckets ≫ cores at the target corpus (the
    * AnnEvalQueries convention), so neither stage funnels.
    * Byte-identical payloads get identical features, hence identical
    * buckets, hence one representative — MultimodalSpec pins the full
    * chain with a deterministic expected cluster. */
  def lshDedup(media: Dataset[MediaRecord], bits: Int = 12): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val feats = extractFeatures(media).toDF()
    val planes = graft.functions.Ann.hyperplanes(bits, FakeCodec.FeatureDim)
    // the bucketed frame feeds BOTH the representative aggregate and
    // the join-back — materialize once, or the decode+featurize stage
    // (the dominant cost with a real codec) runs twice per record
    // (round-9 review; the repo's materialize-once convention)
    val bucketed = feats.withColumn("bucket",
      graft.functions.Ann.bucketCol(col("features"), planes))
      .truncatedCheckpoint()
    val reps = bucketed.groupBy(col("bucket"))
      .agg(min(col("mediaId")).as("representative"))
    bucketed.join(reps, "bucket")
      .select(col("mediaId"), col("modality"), col("bucket"),
        col("representative"),
        (col("mediaId") === col("representative")).as("is_canonical"))
  }

  /** Deterministic synthetic corpus for tests/demos (no codecs in the
    * container — FIXTURES.md §B spirit). */
  def syntheticCorpus(spark: SparkSession, n: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val modality = (id % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val bytes = Array.tabulate((id % 97 + 32).toInt) { j =>
        ((id * 131 + j * 31) % 251).toByte
      }
      MediaRecord(id, modality,
        s"application/x-fake-$modality",
        if (modality == "image") 64 else 0,
        if (modality == "image") 64 else 0,
        if (modality == "video") 10000 + (id % 5) * 1000 else 0,
        bytes)
    }
  }
}
