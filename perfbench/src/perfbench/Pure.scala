package perfbench

/** The benchmark's pure parts: percentile rule, the sink model
  * (seeded failure injection, token bucket, keyed throttling), latency from due time and generator lateness. Each has
  * a self-check in [[Pure.selfCheck]], run at the start of every
  * benchmark JVM and on its own by `run.py --selfcheck`. */
object Pure {

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank index of percentile `p` (0 < p < 1) among `n`
    * sorted samples. */
  def rankIndex(n: Int, p: Double): Int =
    math.max(0, math.ceil(p * n - 1e-9).toInt - 1)

  /** Samples strictly after the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Double): Int = n - rankIndex(n, p) - 1

  /** True when `n` samples leave at least [[MinBeyond]] beyond `p`. */
  def supports(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  /** Nearest-rank percentile; NaN on an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(rankIndex(xs.size, p))

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  // splitmix64 finaliser: a stable 64-bit mix, identical in every JVM
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** FNV-1a over the UTF-16 units of `s`: stable across JVMs, unlike
    * `String.hashCode` salting in some runtimes. */
  def strHash(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001B3L
      i += 1
    }
    h
  }

  /** Uniform [0,1) draw keyed on (seed, key, attempt). */
  def draw(seed: Long, key: String, attempt: Int): Double =
    (mix(mix(seed ^ strHash(key)) + attempt) >>> 11).toDouble / (1L << 53)

  /** Whether the sink model fails `key` on `attempt` as a transient
    * error: seeded, keyed, and independent of call order, thread and
    * batch composition. */
  def fails(seed: Long, key: String, attempt: Int, rate: Double,
      failAttempts: Int): Boolean =
    attempt < failAttempts && draw(seed, key, attempt) < rate

  /** Tokens in a bucket refilled at `perS` per second up to `cap`,
    * `dtNs` after it held `tokens`. */
  def refill(tokens: Double, cap: Double, perS: Double, dtNs: Long): Double =
    math.min(cap, tokens + perS * math.max(0L, dtNs) / 1e9)

  /** Which records of one put a throttled shard refuses, given the
    * record and byte tokens it holds. Records on attempt
    * `throttledAttempts` or later are always accepted (they take what
    * tokens are left); the others are accepted in descending order of
    * [[draw]](seed, key, attempt) while both kinds of token last, and
    * the rest fail. So how many fail follows the load, and which fail
    * is keyed on (seed, key, attempt), whatever the call order.
    * Returns the failed indices, ascending, and the tokens taken. */
  def throttle(seed: Long, keys: IndexedSeq[String], attempts: IndexedSeq[Int],
      bytes: IndexedSeq[Int], recTokens: Double, byteTokens: Double,
      throttledAttempts: Int): (Seq[Int], Double, Double) = {
    val idx = keys.indices
    val (forced, eligible) = idx.partition(i => attempts(i) >= throttledAttempts)
    val ranked = forced ++ eligible.sortBy(i => -draw(seed, keys(i), attempts(i)))
    var rec = recTokens
    var byt = byteTokens
    var usedRec = 0.0
    var usedBytes = 0.0
    var refusing = false
    val failed = Seq.newBuilder[Int]
    ranked.foreach { i =>
      val isForced = attempts(i) >= throttledAttempts
      if (!isForced && (refusing || rec < 1.0 || byt < bytes(i))) {
        refusing = true
        failed += i
      } else {
        val r = math.min(1.0, rec)
        val b = math.min(bytes(i).toDouble, byt)
        rec -= r; byt -= b; usedRec += r; usedBytes += b
      }
    }
    (failed.result().sorted, usedRec, usedBytes)
  }

  /** Per-file latency in ms from due time to the ack of its last
    * record; files never acked are left out and counted apart. */
  def latenciesMs(dueNs: Array[Long], ackNs: Array[Long]): (Seq[Double], Int) = {
    require(dueNs.length == ackNs.length, "due/ack length mismatch")
    var missing = 0
    val out = Seq.newBuilder[Double]
    dueNs.indices.foreach { i =>
      if (ackNs(i) <= 0L) missing += 1
      else out += math.max(0L, ackNs(i) - dueNs(i)) / 1e6
    }
    (out.result(), missing)
  }

  /** How late the generator landed each file, in ms: the max and
    * whether it passed `limitMs` (such runs are flagged). */
  def lateness(dueNs: Array[Long], landedNs: Array[Long],
      limitMs: Double): (Double, Boolean) = {
    val late = dueNs.indices.map(i => math.max(0L, landedNs(i) - dueNs(i)) / 1e6)
    val m = if (late.isEmpty) 0.0 else late.max
    (m, m > limitMs)
  }

  /** Transient failures of the sink model over keys k0..k9999 at rate
    * 0.02 on attempt 0 with seed 7. Pinned so a change to the
    * injection (and so to the workload) shows as a failed self-check. */
  val PinnedFailures = 218

  /** Records refused by [[throttle]] among keys k0..k9999 (one
    * attempt each, 100 bytes) from seed 7 with 1,000 record tokens,
    * that fall in k0..k4999. Pinned so a change to the selection (and
    * so to the workload) shows as a failed self-check. */
  val PinnedRefusedLowHalf = 4510

  /** Returns the failed checks (empty when all hold). */
  def selfCheck(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def check(ok: Boolean, what: String): Unit = if (!ok) bad += what

    val xs = (1 to 200).map(_.toDouble)
    check(pct(xs, 0.95) == 190.0 && beyond(200, 0.95) == 10, "p95 of 1..200")
    check(supports(200, 0.95) && !supports(199, 0.95), "p95 needs 200 samples")
    check(median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5, "median of even sample")

    val keys = (0 until 10000).map(i => s"k$i")
    val inj = keys.filter(k => fails(7L, k, 0, 0.02, 2))
    check(inj == keys.reverse.filter(k => fails(7L, k, 0, 0.02, 2)).reverse,
      "injection independent of call order")
    check(inj.size == PinnedFailures, s"injection pinned count (${inj.size})")
    check(keys.forall(k => !fails(7L, k, 2, 1.0, 2)), "no injection past failAttempts")
    check(keys.filter(k => fails(8L, k, 0, 0.02, 2)) != inj, "seed changes the injection")

    check(refill(0.0, 1000.0, 1000.0, 50000000L) == 50.0 &&
      refill(990.0, 1000.0, 1000.0, 50000000L) == 1000.0, "token bucket refill")
    val first = IndexedSeq.fill(keys.size)(0)
    val size = IndexedSeq.fill(keys.size)(100)
    val (a, usedR, usedB) = throttle(7L, keys, first, size, 1000.0, 1e9, 2)
    val (b, _, _) = throttle(7L, keys.reverse, first, size, 1000.0, 1e9, 2)
    check(a.size == 9000 && usedR == 1000.0 && usedB == 100000.0, "record quota")
    check(a.map(keys).toSet == b.map(keys.reverse).toSet, "selection independent of call order")
    check(a.count(_ < 5000) == PinnedRefusedLowHalf,
      s"selection pinned (${a.count(_ < 5000)})")
    check(throttle(7L, keys, first, size, 1e9, 2500.0, 2)._1.size == 9975, "byte quota")
    check(throttle(7L, keys, IndexedSeq.fill(keys.size)(2), size, 0.0, 0.0, 2)._1.isEmpty,
      "no failure past throttledAttempts")
    check(throttle(8L, keys, first, size, 1000.0, 1e9, 2)._1 != a, "seed changes the pattern")
    check(throttle(7L, keys, first, size, 1e9, 1e9, 2)._1.isEmpty, "no failure under quota")

    val (lat, miss) = latenciesMs(Array(0L, 100000000L, 5L),
      Array(50000000L, 400000000L, 0L))
    check(lat == Seq(50.0, 300.0) && miss == 1, "latency from due time")

    val (lateMax, flagged) = lateness(Array(0L, 10000000L),
      Array(2000000L, 75000000L), 50.0)
    check(lateMax == 65.0 && flagged, "generator lateness")
    check(!lateness(Array(0L), Array(1000000L), 50.0)._2, "on-time generator")
    bad.result()
  }
}
