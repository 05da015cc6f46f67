package graft.functions

/** Bit-identical fast path for Spark's `round(double, s)` (HALF_UP).
  *
  * Spark 4.1's `RoundBase` computes, for a DoubleType child:
  * NaN/Infinity pass through, else
  * `BigDecimal(Double.toString(d)).setScale(s, HALF_UP).doubleValue()`
  * — one `Double.toString` (digit generation), one string-parsed
  * BigDecimal, one setScale and one decimal→double conversion PER ROW.
  * Under the house determinism convention (every cross-engine value is
  * rounded at a fixed scale before entering a decimal sum) this is the
  * single largest per-row cost in the suite: q_quantile_reg alone
  * evaluates 48M rounds at sf0.1 (~60 s of CPU), q_gmm_em/q_als_step/
  * q_kmeans_step/q_geomedian are all dominated by it.
  *
  * The fast path avoids the string round-trip when the decision is
  * provably unambiguous, and falls back to the exact reference
  * computation otherwise:
  *
  *  - `y = d·10^s` in double. The quantity Spark actually rounds is
  *    D·10^s where D is the SHORTEST-DECIMAL value of d (that is what
  *    `Double.toString` yields); `|D·10^s − y|` is bounded by the
  *    half-ulp representation gap `|D−d|·10^s ≤ ½ulp(d)·10^s` plus the
  *    multiplication's rounding error `½ulp(y)` — together ≤ ~1 ulp(y).
  *  - For `|y| < 1e9` that bound is < 2.4e-7, so if the fractional
  *    part of y is more than 1e-5 away from the HALF_UP tie at .5, the
  *    rounded integer r is certain. (Carries across 0/1 are safe: if
  *    the true fraction crossed an integer boundary, both sides of the
  *    boundary produce the same r — only the .5 tie matters.)
  *  - For `1e9 ≤ |y| < 4e12` the multiply error is removed exactly
  *    with an FMA residual (`e = fma(d, p, −y)`, so y + e = d·p
  *    exactly), leaving only the representation gap ≤ ½ulp(4e12) ≈
  *    2.4e-4 — decidable outside a 5e-3 band around the tie.
  *  - Everything else (huge magnitudes, values inside the ambiguity
  *    band — i.e. decimal ties like 0.1235 at scale 3, which MUST
  *    follow the shortest-repr digits, not the binary expansion) takes
  *    the reference slow path verbatim.
  *
  * The reconstruction `r / 10^s` is correctly-rounded IEEE division of
  * two exact doubles (r < 2^53, 10^s exact for s ≤ 15), i.e. the
  * nearest double to the real r·10⁻ˢ — exactly what
  * `BigDecimal.doubleValue()` returns for the same decimal. `r + 0.0`
  * normalizes −0.0 to +0.0 (BigDecimal has no signed zero).
  *
  * FastRoundSpec pins bit-equality (via doubleToLongBits, so ±0.0 and
  * NaN are distinguished) against BOTH the reference formula and
  * Spark's own `Round` expression over adversarial inputs: exact-tie
  * neighbourhoods at every scale, ±ulp walks, subnormals, ±0, NaN,
  * ±Infinity, and uniform random sweeps per magnitude band.
  *
  * '''The cast.''' Spark's `CAST(d AS DECIMAL(p, s))` takes the same
  * shortest-repr D (`BigDecimal.valueOf(d)`), rescales it to s with
  * HALF_UP and keeps it if the rescaled value has at most p digits.
  * Its unscaled value is therefore the very integer r that [[round]]
  * decides, and [[unscaled]] recovers it from the double `round`
  * returns: `q = round(d, s)` is r/10^s correctly rounded, so q·10^s
  * differs from r by at most |r|·2⁻⁵³ (q's rounding) plus ½ulp of the
  * product; below 2^51 each term is ≤ ¼ and `Math.round` returns r
  * exactly. Ambiguous ties are no exception: `round` already took the
  * reference path for them. NaN, ±Infinity, |r| ≥ 2^51 and r with
  * more than p digits get no fast answer, and the caller runs Spark's
  * own `Cast` (null, or the ANSI error, exactly as Spark decides).
  *
  * '''The sum.''' An exact decimal sum needs nothing but integer
  * addition of unscaled values at the common scale s: Σ(rᵢ·10⁻ˢ) =
  * (Σrᵢ)·10⁻ˢ with no rounding anywhere. Spark folds wide sums through
  * `Decimal` objects; [[graft.functions.expressions.ExactDecimalSum]]
  * adds the same integers into a two's-complement (hi, lo) long pair.
  * A result of at most 38 digits is below 10^38 < 2^127, so the pair
  * holds every sum Spark can return; a running value that would wrap
  * is marked overflowed, and the final value is built once per group.
  */
object FastRound {

  /** 10^s, exact in double for s ∈ [0, 15] (10^15 < 2^53). */
  private val Pow: Array[Double] = Array(
    1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7,
    1e8, 1e9, 1e10, 1e11, 1e12, 1e13, 1e14, 1e15)

  /** Largest scale the fast/slow split supports; the rewrite rule only
    * fires for scales in [0, MaxScale]. */
  val MaxScale: Int = 15

  /** [[unscaled]]'s answer when it has none. No decided value can be
    * this: every fast answer is below 2^51 in magnitude. */
  val NoFast: Long = Long.MinValue

  /** 2^51: below it `Math.round(round(d, s)·10^s)` is exact. */
  private val UnscaledLimit = 2251799813685248.0

  /** 10^p as a long, p ∈ [0, 15]. */
  private val PowL: Array[Long] = Array.tabulate(16)(p => math.pow(10, p).toLong)

  /** The unscaled value of `CAST(d AS DECIMAL(p, s))` (s ≤ [[MaxScale]]),
    * or [[NoFast]] when Spark's own cast must decide: NaN, ±Infinity,
    * magnitudes of 2^51 and beyond, and results wider than p digits. */
  def unscaled(d: Double, s: Int, p: Int): Long = {
    // checked before rounding too: a huge d would only pay `slow`
    if (!(Math.abs(d) * Pow(s) < UnscaledLimit)) return NoFast // and NaN
    val y = round(d, s) * Pow(s)
    if (!(Math.abs(y) < UnscaledLimit)) return NoFast
    val k = Math.round(y)
    if (p < PowL.length && Math.abs(k) >= PowL(p)) NoFast else k
  }

  def round(d: Double, s: Int): Double = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return d
    val p = Pow(s)
    val y = d * p
    val ay = Math.abs(y)
    if (ay < 1.0e9) {
      val fl = Math.floor(y)
      val fr = y - fl // exact: fl ≤ y < fl+1 and both share the sign
      if (fr > 0.5 + 1.0e-5) return (fl + 1.0 + 0.0) / p
      if (fr < 0.5 - 1.0e-5) return (fl + 0.0) / p
    } else if (ay < 4.0e12) {
      val e = Math.fma(d, p, -y) // y + e == d·p exactly
      val fl = Math.floor(y)
      val fr = (y - fl) + e // may land slightly outside [0,1): see above
      if (fr > 0.5 + 5.0e-3) return (fl + 1.0 + 0.0) / p
      if (fr < 0.5 - 5.0e-3) return (fl + 0.0) / p
    }
    slow(d, s)
  }

  /** The reference computation — byte-for-byte what Spark's RoundBase
    * does for DoubleType with HALF_UP (scala.math.BigDecimal(d) is
    * `Double.toString`-based, and DECIMAL128 cannot truncate a ≤17
    * significant-digit literal). */
  def slow(d: Double, s: Int): Double =
    new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(s, java.math.RoundingMode.HALF_UP)
      .doubleValue()
}
