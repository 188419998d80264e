package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** `graft_sqdist_dec(a, b)` — bit-identical drop-in for the decimal-exact
  * squared-L2 fold used by [[graft.operators.Similarity.kmeansLloyd]]'s
  * assignment pass:
  *
  * {{{
  * aggregate(zip_with(a, b, (x, y) => round((x-y)*(x-y), 12).cast(DECIMAL(26,12))),
  *           0 :: DECIMAL(38,12), (acc, t) => (acc + t).cast(DECIMAL(38,12)))
  *   .cast(double)
  * }}}
  *
  * Why (guide §4.1): the HOF form is an interpreted CodegenFallback chain —
  * per ELEMENT it allocates a lambda frame, a `Round` BigDecimal round
  * trip, a double→decimal cast (a second BigDecimal), and a
  * `Decimal.+` on a 38-digit (BigDecimal-backed) accumulator. Measured
  * ~0.65 s per assignment pass over 2000×64-dim vectors at sf0.1 — and
  * kmeans runs iters+1 passes. This kernel runs one flat loop per row:
  * the same two shortest-representation roundings per element (via
  * [[DecFast.scaledLong]], bit-equal to `BigDecimal.valueOf(…).setScale(12,
  * HALF_UP)`), mantissas summed in a long, one `BigDecimal.valueOf(sum,
  * 12).doubleValue()` at the end — the exact value the decimal fold's
  * final double cast produces. Null/length semantics match the HOF chain:
  * null array, null element, or unequal lengths (zip_with pads with null)
  * all yield null. Bit-equality vs the composed form is pinned in
  * SqDistDecSpec.
  *
  * The order-independence contract the decimal fold exists for is
  * untouched: integer mantissa addition is exact and associative. */
case class GraftSqDistDec(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(c => c.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_sqdist_dec expects (array<double>, array<double>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val bv = b.asInstanceOf[ArrayData]
    val n = av.numElements()
    // zip_with pads the shorter side with null → round/cast null → the
    // decimal fold goes (and stays) null
    if (n != bv.numElements()) return null
    var i = 0
    // The fold's accumulator is DECIMAL(38,12) but each `acc + t` is an
    // Add of (38,12)+(26,12) → precision 39 → Spark's precision-loss rule
    // re-types the Add result as DECIMAL(38,11), HALF_UP — i.e. the chain
    // rounds the running sum to SCALE 11 after every element (probed on
    // this build: 0+5e-12 → 1e-11, 2e-11+5e-12 → 3e-11). Accumulate at
    // scale 11 with the same per-add HALF_UP to stay bit-identical.
    var sum11 = 0L
    var bigSum11: JBigDecimal = null
    while (i < n) {
      if (av.isNullAt(i) || bv.isNullAt(i)) return null
      val x = av.getDouble(i)
      val y = bv.getDouble(i)
      val d = (x - y) * (x - y)
      // ADVICE r14: a non-finite element must follow the HOF chain's path —
      // round(NaN/∞, 12) stays NaN/∞ and cast(NaN/∞ as decimal(26,12)) is
      // null, so the fold goes (and stays) null. Without this guard a NaN
      // parsed Double.toString("NaN") as digits and an ∞ took the
      // JBigDecimal.valueOf path, which throws. Pinned in
      // NativeAggEqualitySpec's non-finite rows.
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return null
      // step 1: round(d, 12) — HALF_UP on the shortest decimal repr,
      // result as double
      var r1 = 0.0
      val m1 = DecFast.scaledLong(d, 12)
      if (m1 != DecFast.Miss) r1 = JBigDecimal.valueOf(m1, 12).doubleValue()
      else r1 = JBigDecimal.valueOf(d).setScale(12, RoundingMode.HALF_UP).doubleValue()
      // step 2: cast(r1 as decimal(26,12)) — a second shortest-repr rounding
      val m2 = DecFast.scaledLong(r1, 12)
      if (m2 != DecFast.Miss && bigSum11 == null &&
          sum11 <= (Long.MaxValue - m2) / 10) {
        // exact scale-12 total, then HALF_UP back to scale 11 (m2 ≥ 0:
        // squared distances are never negative)
        val exact12 = sum11 * 10 + m2
        val q = exact12 / 10
        sum11 = if (exact12 - q * 10 >= 5) q + 1 else q
      } else {
        val bd =
          if (m2 != DecFast.Miss) JBigDecimal.valueOf(m2, 12)
          else DecFast.scaledBig(r1, 12)
        // cast overflow to decimal(26,12) → null element → null fold
        if (bd.precision - bd.scale > 26 - 12) return null
        if (bigSum11 == null) bigSum11 = JBigDecimal.valueOf(sum11, 11)
        bigSum11 = bigSum11.add(bd).setScale(11, RoundingMode.HALF_UP)
      }
      i += 1
    }
    if (bigSum11 != null) bigSum11.doubleValue()
    else JBigDecimal.valueOf(sum11, 11).doubleValue()
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftSqDistDec =
    copy(left = l, right = r)
  override def prettyName: String = "graft_sqdist_dec"
}

object GraftSqDistDec {
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => GraftSqDistDec(a, b)
    case args => throw new IllegalArgumentException(
      s"graft_sqdist_dec(a, b): expected 2 args, got ${args.length}")
  }
}
