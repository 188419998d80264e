package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types.LongType

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

/** Exact double→decimal scaling shared by the one exact decimal sum,
  * [[DecSum128]] (through its per-row mantissa expressions
  * [[GraftScaledLong]] and [[GraftScaledInt128]]), and [[GraftSqDistDec]].
  *
  * Spark's `CAST(double AS decimal(p, s))` is defined as
  * `new java.math.BigDecimal(Double.toString(d)).setScale(s, HALF_UP)`
  * (shortest-decimal-representation semantics, via
  * `scala.BigDecimal(d)` = `JBigDecimal.valueOf(d)`), nulled when the
  * result needs more than `p` digits. [[scaledLong]] reproduces that
  * rounding bit-for-bit without allocating a BigDecimal: it parses the
  * same `Double.toString` text into a scaled-long mantissa with HALF_UP
  * applied in integer arithmetic. Values whose mantissa cannot fit a
  * long (|d·10^s| ≳ 9.2e18) fall back to the real BigDecimal path —
  * correctness never depends on the fast path applying. */
object DecFast {
  /** Fast path failed; caller must use [[scaledBig]]. (The sentinel is a
    * legal mantissa in principle, so the fallback recomputes rather than
    * trusts — a false miss costs one BigDecimal, never correctness.) */
  final val Miss = Long.MinValue

  private val P10: Array[Long] = {
    val a = new Array[Long](19)
    a(0) = 1L
    var i = 1
    while (i < 19) { a(i) = a(i - 1) * 10; i += 1 }
    a
  }

  /** `10^e` for 0 ≤ e ≤ 18. */
  def pow10(e: Int): Long = P10(e)

  /** Unscaled mantissa of `BigDecimal.valueOf(d).setScale(s, HALF_UP)`,
    * or [[Miss]] when it may not fit a long. `d` must be finite. */
  def scaledLong(d: Double, s: Int): Long = {
    val str = java.lang.Double.toString(d)
    val len = str.length
    var i = 0
    var neg = false
    if (str.charAt(0) == '-') { neg = true; i = 1 }
    var digits = 0L
    var nsig = 0
    var frac = 0
    var seenDot = false
    var exp = 0
    var c = ' '
    while (i < len && { c = str.charAt(i); c != 'E' }) {
      if (c == '.') seenDot = true
      else {
        // Double.toString emits at most 17 significant digits — the
        // concatenated digit string always fits a long
        digits = digits * 10 + (c - '0')
        nsig += 1
        if (seenDot) frac += 1
      }
      i += 1
    }
    if (c == 'E') exp = java.lang.Integer.parseInt(str, i + 1, len, 10)
    // d = ±digits · 10^(exp − frac); unscaled-at-s = ±digits · 10^(s + exp − frac)
    val shift = s + exp - frac
    val m =
      if (digits == 0L) 0L
      else if (shift >= 0) {
        if (shift > 18 || digits > Long.MaxValue / P10(shift)) return Miss
        digits * P10(shift)
      } else if (shift < -18) {
        // divisor ≥ 10^19 > 2·digits (≤ 2·10^17): HALF_UP rounds to zero
        0L
      } else {
        val div = P10(-shift)
        val q = digits / div
        val r = digits - q * div
        // HALF_UP: away from zero when the remainder is at least half
        if (r >= div - r) q + 1 else q
      }
    if (neg) -m else m
  }

  /** Reference path: the exact Spark cast result as a BigDecimal. */
  def scaledBig(d: Double, s: Int): JBigDecimal =
    JBigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)

  /** "Null" sentinel for the checked-mantissa codegen entry points below:
    * for `precision <= 18` every legal mantissa satisfies |m| < 10^18, so
    * `Long.MinValue` can never be a real result. */
  final val NullMantissa = Long.MinValue

  private def overflowErr(v: Any, p: Int, s: Int): ArithmeticException =
    new ArithmeticException(
      s"[NUMERIC_VALUE_OUT_OF_RANGE] $v cannot be represented as " +
        s"Decimal($p, $s) in graft_dec_sum")

  /** `CAST(d AS DECIMAL(p, s))`'s unscaled mantissa for `p <= 18`, as one
    * static call the whole-stage-codegen'd [[GraftScaledLong]] emits:
    * NaN/±∞ → [[NullMantissa]] (the cast is null even under ANSI —
    * probed); overflow → ANSI throw / else
    * [[NullMantissa]]. `castBound` = 10^p precomputed by the caller.
    * For p <= 18 a [[scaledLong]] Miss implies |mantissa| ≥ ~9.2e18 ≥
    * castBound, i.e. overflow — asserted via the exact BigDecimal path
    * rather than assumed. */
  def checkedMantissaDouble(d: Double, s: Int, p: Int, castBound: Long,
                            ansi: Boolean): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      return NullMantissa
    val m = scaledLong(d, s)
    if (m != Miss && m > -castBound && m < castBound) m
    else if (m != Miss) { // exact mantissa known, outside precision
      if (ansi) throw overflowErr(d, p, s) else NullMantissa
    } else {
      val bd = scaledBig(d, s)
      if (bd.precision <= p) bd.unscaledValue.longValueExact()
      else if (ansi) throw overflowErr(d, p, s)
      else NullMantissa
    }
  }

  /** Integral twin of [[checkedMantissaDouble]]: exact `l * 10^s` with the
    * same overflow contract. `intFastBound` = Long.MaxValue / 10^s
    * precomputed by the caller (0 when s > 18). */
  def checkedMantissaLong(l: Long, s: Int, p: Int, castBound: Long,
                          intFastBound: Long, ansi: Boolean): Long = {
    if (l > -intFastBound && l < intFastBound) {
      val m = l * pow10(s)
      if (m > -castBound && m < castBound) m
      else if (ansi) throw overflowErr(l, p, s)
      else NullMantissa
    } else {
      val bd = new JBigDecimal(BigInteger.valueOf(l)).setScale(s)
      if (bd.precision <= p) bd.unscaledValue.longValueExact()
      else if (ansi) throw overflowErr(l, p, s)
      else NullMantissa
    }
  }

  /** A reusable (hi, lo) row for [[GraftScaledInt128]]'s generated code. */
  def mantissaRow(): InternalRow = new SpecificInternalRow(Seq(LongType, LongType))

  /** `CAST(d AS DECIMAL(p, s))`'s unscaled mantissa for `18 < p <= 38`,
    * the one static call the whole-stage-codegen'd [[GraftScaledInt128]]
    * emits: writes the 128-bit two's complement as (hi, lo) into fields 0
    * and 1 of `out` and returns true, or returns false where the cast is
    * null (NaN/±∞; overflow without ANSI). A [[scaledLong]] hit always fits
    * (|m| < 2^63 < 10^19 <= 10^p); only a Miss pays the BigDecimal. */
  def checkedMantissa128Double(d: Double, s: Int, p: Int, ansi: Boolean,
                               out: InternalRow): Boolean = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return false
    val m = scaledLong(d, s)
    if (m != Miss) { out.setLong(0, m >> 63); out.setLong(1, m); true }
    else fits128(scaledBig(d, s), d, s, p, ansi, out)
  }

  /** Integral twin of [[checkedMantissa128Double]]: exact `l * 10^s`.
    * `intFastBound` = Long.MaxValue / 10^s (0 when s > 18). */
  def checkedMantissa128Long(l: Long, s: Int, p: Int, intFastBound: Long,
                             ansi: Boolean, out: InternalRow): Boolean =
    if (l > -intFastBound && l < intFastBound) {
      val m = l * pow10(s)
      out.setLong(0, m >> 63); out.setLong(1, m); true
    } else fits128(new JBigDecimal(BigInteger.valueOf(l)).setScale(s), l, s, p, ansi, out)

  private def fits128(bd: JBigDecimal, v: Any, s: Int, p: Int, ansi: Boolean,
                      out: InternalRow): Boolean =
    if (bd.precision <= p) {
      val u = bd.unscaledValue // |u| < 10^38 < 2^127
      out.setLong(0, u.shiftRight(64).longValue); out.setLong(1, u.longValue); true
    } else if (ansi) throw overflowErr(v, p, s)
    else false
}
