package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}

import graft.streaming.CloudTrailPipeline.RecordSink

/** Kinesis-shaped record sink for the ingest workloads, after a
  * [[SinkModel]]:
  *  - a fixed wall time per `put` call (PutRecords round trip), spent
  *    sleeping, so it holds a task slot as a blocking client would;
  *  - one shard's write quota, metered by token buckets; a put that
  *    finds the shard over quota gets partial failures, chosen by
  *    [[Pure.throttle]];
  *  - injected transient failures, keyed by [[Pure.fails]];
  *  - counters for the `sink.*` metrics, the delivered
  *    (partitionKey, data) pairs for the delivery check, and the ack
  *    time of each input file's last record for the latency metric.
  * Failed records go back to `drainPartition`, whose retry and backoff
  * loop then runs.
  *
  * Spark serialises the sink into every task; instances carry only a
  * registry id and reach the shared [[SinkState]] in this JVM. */
final class KinesisSink(id: Int) extends RecordSink {
  override def put(batch: Seq[(String, String)]): Seq[Int] =
    KinesisSink.state(id).put(batch)
}

object KinesisSink {
  private val states = new ConcurrentHashMap[Integer, SinkState]()
  private val ids = new AtomicLong(0L)

  def register(st: SinkState): KinesisSink = {
    val id = ids.incrementAndGet().toInt
    states.put(id, st)
    new KinesisSink(id)
  }

  def state(id: Int): SinkState = states.get(id)
}

/** @param latencyMs wall time of each put
  * @param recPerS the shard's write quota in records per second
  * @param bytesPerS and in bytes (partition key plus data, one byte per
  *   character of their ASCII JSON) per second; both are metered by
  *   token buckets that hold one second of quota
  * @param failRate share of records failed as transient errors
  * @param failAttempts a record is failed, by quota or injection, only
  *   on attempts below this */
final case class SinkModel(latencyMs: Int, recPerS: Double, bytesPerS: Double,
    failRate: Double, failAttempts: Int) {
  def metered: Boolean = !recPerS.isInfinity || !bytesPerS.isInfinity
}

object SinkModel {
  /** Accepts every record at once. */
  val Unlimited = SinkModel(0, Double.PositiveInfinity, Double.PositiveInfinity, 0.0, 0)
}

/** @param fileOf maps a partition key to its input file, or -1
  * @param remaining per input file, records still to be acked */
final class SinkState(val model: SinkModel, val seed: Long,
    fileOf: String => Int, remaining: Array[Int]) {

  val delivered = new ConcurrentHashMap[String, String]()
  val doubleDelivered = new AtomicLong(0L)
  private val attempts = new ConcurrentHashMap[String, Integer]()
  private val left = new AtomicIntegerArray(remaining)
  val ackNs = new AtomicLongArray(remaining.length)

  val putCalls = new AtomicLong(0L)
  val recordsOffered = new AtomicLong(0L)
  val bytesOffered = new AtomicLong(0L)
  val recordsRetried = new AtomicLong(0L)
  val recordsThrottled = new AtomicLong(0L)
  val putBusyNs = new AtomicLong(0L)
  val backoffNs = new AtomicLong(0L)
  /** (start, end) of each put, for spans; filled only when tracing. */
  @volatile var putLog: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)] = null

  // the shard's token buckets, full at the start, and their lowest
  // record fill as a share of capacity
  private var recTokens = model.recPerS
  private var byteTokens = model.bytesPerS
  private var refilledNs = System.nanoTime()
  @volatile var bucketMinFrac = 1.0

  // end of the last put on this thread that returned failures: the
  // gap to the thread's next put is drainPartition's backoff sleep
  private val lastFailedPutEnd = new ThreadLocal[java.lang.Long]()

  /** Records offered but never delivered: what `drainPartition` gave
    * up on after its last retry (read once the stream has stopped). */
  def retriesExhausted: Long = {
    var n = 0L
    attempts.forEach((k, _) => if (!delivered.containsKey(k)) n += 1)
    n
  }

  def put(batch: Seq[(String, String)]): Seq[Int] = {
    val t0 = System.nanoTime()
    val prev = lastFailedPutEnd.get()
    if (prev != null) {
      backoffNs.addAndGet(t0 - prev)
      lastFailedPutEnd.remove()
    }
    putCalls.incrementAndGet()
    val recs = batch.toIndexedSeq
    val keys = recs.map(_._1)
    val bytes = recs.map { case (k, d) => k.length + d.length }
    val tries = keys.map(k => attempts.merge(k, 1, (a: Integer, b: Integer) => a + b) - 1)
    recordsOffered.addAndGet(recs.size.toLong)
    bytesOffered.addAndGet(bytes.sum.toLong)
    val transient = keys.indices.filter(i =>
      Pure.fails(seed, keys(i), tries(i), model.failRate, model.failAttempts))
    val failed = if (!model.metered) transient else synchronized {
      recTokens = Pure.refill(recTokens, model.recPerS, model.recPerS, t0 - refilledNs)
      byteTokens = Pure.refill(byteTokens, model.bytesPerS, model.bytesPerS, t0 - refilledNs)
      refilledNs = math.max(refilledNs, t0)
      val offered = keys.indices.filterNot(transient.toSet)
      val (f, r, b) = Pure.throttle(seed, offered.map(keys), offered.map(tries),
        offered.map(bytes), recTokens, byteTokens, model.failAttempts)
      recTokens -= r
      byteTokens -= b
      bucketMinFrac = math.min(bucketMinFrac, recTokens / model.recPerS)
      recordsThrottled.addAndGet(f.size.toLong)
      (transient ++ f.map(offered)).sorted
    }
    if (model.latencyMs > 0) Thread.sleep(model.latencyMs.toLong)
    val refused = failed.toSet
    recs.indices.foreach(i => if (!refused(i)) deliver(recs(i)._1, recs(i)._2))
    val t1 = System.nanoTime()
    putBusyNs.addAndGet(t1 - t0)
    val log = putLog
    if (log != null) log.add((t0, t1))
    if (failed.nonEmpty) {
      recordsRetried.addAndGet(failed.size.toLong)
      lastFailedPutEnd.set(t1)
    }
    failed
  }

  private def deliver(key: String, data: String): Unit =
    if (delivered.putIfAbsent(key, data) != null) doubleDelivered.incrementAndGet()
    else {
      val f = fileOf(key)
      if (f >= 0 && f < left.length() && left.decrementAndGet(f) == 0)
        ackNs.set(f, System.nanoTime())
    }
}
