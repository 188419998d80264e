package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

import java.math.{BigDecimal => JBigDecimal, BigInteger}

/** `CAST(x AS DECIMAL(p, s))`'s unscaled mantissa as a LONG, `p <= 18`
  * only — the per-row input of [[DecSum128]]'s narrow form. Identical cast
  * semantics to the builtin chain (pinned in NativeAggEqualitySpec):
  * NaN/±∞ → null (probed: null even under ANSI), overflow → ANSI throw /
  * else null. Generates a single static call
  * ([[DecFast.checkedMantissaDouble]] / [[DecFast.checkedMantissaLong]]),
  * so the `Double.toString` shortest-representation parse stays the
  * no-BigDecimal fast path inside whole-stage codegen. */
case class GraftScaledLong(child: Expression, precision: Int, scale: Int,
                           ansi: Boolean)
  extends UnaryExpression {

  require(precision >= 1 && precision <= 18 && scale >= 0 && scale <= precision,
    s"graft_scaled_long: needs decimal($precision, $scale) with precision <= 18")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    DecSum128.checkInput(child, prettyName)

  private val isDouble = child.dataType == DoubleType
  private val castBound: Long = DecFast.pow10(precision)
  private val intFastBound: Long =
    if (scale > 18) 0L else Long.MaxValue / DecFast.pow10(scale)

  override protected def nullSafeEval(v: Any): Any = {
    val m =
      if (isDouble)
        DecFast.checkedMantissaDouble(v.asInstanceOf[Double], scale, precision,
          castBound, ansi)
      else
        DecFast.checkedMantissaLong(v.asInstanceOf[Number].longValue(), scale,
          precision, castBound, intFastBound, ansi)
    if (m == DecFast.NullMantissa) null else m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val call =
        if (isDouble)
          s"graft.functions.DecFast.checkedMantissaDouble($v, $scale, $precision, ${castBound}L, $ansi)"
        else
          s"graft.functions.DecFast.checkedMantissaLong((long) $v, $scale, $precision, ${castBound}L, ${intFastBound}L, $ansi)"
      s"""
         |${ev.value} = $call;
         |if (${ev.value} == ${DecFast.NullMantissa}L) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = 0L;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): GraftScaledLong =
    copy(child = c)
  override def prettyName: String = "graft_scaled_long"
}

/** `CAST(x AS DECIMAL(p, s))`'s unscaled mantissa for `18 < p <= 38` as
  * a 128-bit two's complement `(hi, lo)` struct — the per-row input of
  * [[DecSum128]]'s wide form, with [[GraftScaledLong]]'s cast semantics.
  * One expression carries both longs, so subexpression elimination
  * evaluates it once per row however many buffer slots read its fields,
  * and the generated code fills one row reused
  * across rows ([[DecFast.mantissaRow]]) through a single static call
  * ([[DecFast.checkedMantissa128Double]] / [[DecFast.checkedMantissa128Long]]):
  * the long fast path, with a BigDecimal only for a mantissa past 2^63. */
case class GraftScaledInt128(child: Expression, precision: Int, scale: Int,
                             ansi: Boolean)
  extends UnaryExpression {

  require(precision > 18 && precision <= 38 && scale >= 0 && scale <= precision,
    s"graft_scaled_int128: needs decimal($precision, $scale) with 18 < precision <= 38")

  override def dataType: DataType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    DecSum128.checkInput(child, prettyName)

  private val isDouble = child.dataType == DoubleType
  private val intFastBound: Long =
    if (scale > 18) 0L else Long.MaxValue / DecFast.pow10(scale)

  override protected def nullSafeEval(v: Any): Any = {
    val out = DecFast.mantissaRow()
    val ok =
      if (isDouble)
        DecFast.checkedMantissa128Double(v.asInstanceOf[Double], scale, precision, ansi, out)
      else
        DecFast.checkedMantissa128Long(v.asInstanceOf[Number].longValue(), scale,
          precision, intFastBound, ansi, out)
    if (ok) out else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.addMutableState("org.apache.spark.sql.catalyst.InternalRow", "mantissa128",
      v => s"$v = graft.functions.DecFast.mantissaRow();")
    nullSafeCodeGen(ctx, ev, v => {
      val call =
        if (isDouble)
          s"graft.functions.DecFast.checkedMantissa128Double($v, $scale, $precision, $ansi, $out)"
        else
          s"graft.functions.DecFast.checkedMantissa128Long((long) $v, $scale, $precision, ${intFastBound}L, $ansi, $out)"
      s"""
         |${ev.isNull} = !$call;
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): GraftScaledInt128 =
    copy(child = c)
  override def prettyName: String = "graft_scaled_int128"
}

/** The 192-bit two's complement (top, hi, lo) → `DECIMAL(resultPrecision,
  * scale)` with the Sum result's CheckOverflow contract (ANSI throw / else
  * null); the narrow form passes its sign-extended hi as `top`. The empty
  * (all-null-input) buffer is handled by [[DecSum128]]'s cnt guard before
  * this expression runs. Evaluated once per GROUP, but still fully
  * codegen'd (a CodegenFallback here would kick the enclosing
  * HashAggregateExec out of whole-stage codegen — CollapseCodegenStages
  * rejects plans containing fallback expressions). */
case class GraftLimbsDec(topExpr: Expression, hiExpr: Expression, loExpr: Expression,
                         resultPrecision: Int, scale: Int, ansi: Boolean)
  extends Expression {

  override def children: Seq[Expression] = Seq(topExpr, hiExpr, loExpr)
  override def dataType: DataType = DecimalType(resultPrecision, scale)
  override def nullable: Boolean = true
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any =
    DecSum128.limbsToDecimal(topExpr.eval(input).asInstanceOf[Long],
      hiExpr.eval(input).asInstanceOf[Long], loExpr.eval(input).asInstanceOf[Long],
      resultPrecision, scale, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(t, h, l) = children.map(_.genCode(ctx))
    ev.copy(code =
      code"""
        ${t.code}
        ${h.code}
        ${l.code}
        org.apache.spark.sql.types.Decimal ${ev.value} =
          graft.functions.DecSum128.limbsToDecimal(
            ${t.value}, ${h.value}, ${l.value}, $resultPrecision, $scale, $ansi);
        boolean ${ev.isNull} = (${ev.value} == null);
      """)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): GraftLimbsDec =
    copy(topExpr = c(0), hiExpr = c(1), loExpr = c(2))
  override def prettyName: String = "graft_limbs_dec"
}

/** `graft_dec_sum(x, p, s)`, 1 <= p <= 38 — the one exact decimal sum, a
  * bit-identical drop-in for `SUM(CAST(x AS DECIMAL(p, s)))` over a double
  * or integral column. [[graft.Ops.dsum]] (p = 18) and
  * [[graft.Ops.dsumWide]] (p = 30) route every oracle-checked money and
  * moment sum through it, so the result is independent of partitioning
  * and summation order.
  *
  * A DeclarativeAggregate over longs in the agg buffer with
  * expression-level carry arithmetic: it plans as the unsafe-map
  * HashAggregateExec under whole-stage codegen, with no ObjectHashAggregate
  * (whose sort-based fallback past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
  * keys per partition a grouped money sum at scale would pay) and no
  * per-row BigDecimal: the per-row cast parses the `Double.toString` text
  * into an integer mantissa (see [[DecFast]]).
  *
  *  - p <= 18 (narrow): a long mantissa ([[GraftScaledLong]]) and a
  *    (cnt, hi, lo) buffer. One value contributes |m| < 10^18, so wrapping
  *    ±2^127 (~1.7e38) needs more than 1.7e20 rows in one group — beyond
  *    any physically processable input (Spark's own `Sum` over LONG wraps
  *    at 2^63 under the same argument).
  *  - p > 18 (wide): a 128-bit mantissa ([[GraftScaledInt128]]) and a
  *    (cnt, top, hi, lo) buffer. One value contributes |m| < 10^38 <
  *    2^127, so the 192-bit sum stays exact past 2^64 rows in one group;
  *    the result's CheckOverflow then decides, as the builtin's does.
  *
  * Semantics (pinned in NativeAggEqualitySpec against the builtin chain):
  * per-value cast NaN/∞→null-skip, overflow→ANSI throw / null-skip,
  * all-null→null result (cnt stays 0), result CheckOverflow→ANSI throw /
  * null. Carry arithmetic uses explicit LEGACY-mode Add ops so the
  * intentional two's-complement carries never trip ANSI overflow checks. */
case class DecSum128(child: Expression, precision: Int, scale: Int,
                     ansi: Boolean = true)
  extends DeclarativeAggregate {

  require(precision >= 1 && precision <= 38 && scale >= 0 && scale <= precision,
    s"graft_dec_sum: bad decimal($precision, $scale)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true

  private val resultPrecision = math.min(38, precision + 10)
  override def dataType: DataType = DecimalType(resultPrecision, scale)

  override def checkInputDataTypes(): TypeCheckResult =
    DecSum128.checkInput(child, prettyName)

  private val wide = precision > 18

  // cnt == 0 encodes "no non-null input yet" (Sum's all-null → null); the
  // limbs are then all 0, so a null-m row can contribute zeros instead of
  // an If on every slot. Subexpression elimination evaluates the
  // (Double.toString-parsing) mantissa once per row however often the
  // slots below reference it: in whole-stage codegen's HashAggregate and
  // in the generated update projection of the ObjectHashAggregate a typed
  // sibling (graft_percentile) puts it in — both generated classes hold
  // one call to the parse.
  private lazy val cnt = AttributeReference("cnt128", LongType, nullable = false)()
  private lazy val top = AttributeReference("top128", LongType, nullable = false)()
  private lazy val hi = AttributeReference("hi128", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo128", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    if (wide) Seq(cnt, top, hi, lo) else Seq(cnt, hi, lo)

  override lazy val initialValues: Seq[Expression] =
    aggBufferAttributes.map(_ => Literal(0L))

  // two's-complement carry chains must never ANSI-throw
  private def ladd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** carry-out of the unsigned 64-bit add that produced `sum` from `a`, as
    * 0/1, via the unsigned compare `sum <u a` (sign-flip trick). */
  private def carryOut(sum: Expression, a: Expression): Expression = {
    val minL = Literal(Long.MinValue)
    If(LessThan(BitwiseXor(sum, minL), BitwiseXor(a, minL)),
      Literal(1L), Literal(0L))
  }

  /** (hi, lo) + (bHi, bLo), wrapping at 2^128. */
  private def add128(aHi: Expression, aLo: Expression,
                     bHi: Expression, bLo: Expression): Seq[Expression] = {
    val newLo = ladd(aLo, bLo)
    Seq(ladd(ladd(aHi, bHi), carryOut(newLo, aLo)), newLo)
  }

  /** (top, hi, lo) + (bTop, bHi, bLo), wrapping at 2^192. The middle limb
    * adds three terms; its two partial sums can carry at most once
    * between them. */
  private def add192(aTop: Expression, aHi: Expression, aLo: Expression,
                     bTop: Expression, bHi: Expression,
                     bLo: Expression): Seq[Expression] = {
    val newLo = ladd(aLo, bLo)
    val t = ladd(aHi, bHi)
    val newHi = ladd(t, carryOut(newLo, aLo))
    Seq(ladd(ladd(aTop, bTop), ladd(carryOut(t, aHi), carryOut(newHi, t))), newHi, newLo)
  }

  private def signOf(x: Expression): Expression = ShiftRight(x, Literal(63))

  override lazy val updateExpressions: Seq[Expression] =
    if (wide) {
      val m = GraftScaledInt128(child, precision, scale, ansi)
      val mHi = Coalesce(Seq(GetStructField(m, 0), Literal(0L)))
      val mLo = Coalesce(Seq(GetStructField(m, 1), Literal(0L)))
      ladd(cnt, If(IsNull(m), Literal(0L), Literal(1L))) +:
        add192(top, hi, lo, signOf(mHi), mHi, mLo)
    } else {
      val m = GraftScaledLong(child, precision, scale, ansi)
      val mz = Coalesce(Seq(m, Literal(0L)))
      ladd(cnt, If(IsNull(m), Literal(0L), Literal(1L))) +:
        add128(hi, lo, signOf(mz), mz)
    }

  override lazy val mergeExpressions: Seq[Expression] =
    ladd(cnt.left, cnt.right) +: (
      if (wide) add192(top.left, hi.left, lo.left, top.right, hi.right, lo.right)
      else add128(hi.left, lo.left, hi.right, lo.right))

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)),
      Literal.create(null, dataType),
      GraftLimbsDec(if (wide) top else signOf(hi), hi, lo, resultPrecision, scale, ansi))

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): DecSum128 = copy(child = c(0))
  override def prettyName: String = "graft_dec_sum"
}

object DecSum128 {
  private val LowMask = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  private[functions] def checkInput(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case DoubleType | LongType | IntegerType | ShortType | ByteType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects a double or integral child, got ${other.catalogString}")
    }

  /** 192-bit two's complement → BigDecimal at `scale`, CheckOverflow to
    * `resultPrecision` (ANSI throw / else Java null). */
  def limbsToDecimal(top: Long, hi: Long, lo: Long, resultPrecision: Int,
                     scale: Int, ansi: Boolean): Decimal = {
    val unscaled =
      if (top == (hi >> 63) && hi == (lo >> 63)) BigInteger.valueOf(lo)
      else BigInteger.valueOf(top).shiftLeft(128)
        .add(BigInteger.valueOf(hi).and(LowMask).shiftLeft(64))
        .add(BigInteger.valueOf(lo).and(LowMask))
    val bd = new JBigDecimal(unscaled, scale)
    if (bd.precision > resultPrecision) {
      if (ansi) throw new ArithmeticException(
        s"[NUMERIC_VALUE_OUT_OF_RANGE] $bd cannot be represented as " +
          s"Decimal($resultPrecision, $scale) in graft_dec_sum")
      else null
    } else Decimal(bd, resultPrecision, scale)
  }

  /** `graft_dec_sum(x, p, s)` with foldable integral `p` and `s`. */
  val builder: Seq[Expression] => Expression = {
    case Seq(x, p, s) if p.foldable && s.foldable =>
      (p.eval(), s.eval()) match {
        case (pi: java.lang.Number, si: java.lang.Number) =>
          DecSum128(x, pi.intValue(), si.intValue(),
            ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
        case other => throw new IllegalArgumentException(
          s"graft_dec_sum(x, intPrecision, intScale), got $other")
      }
    case args => throw new IllegalArgumentException(
      s"graft_dec_sum(x, precision, scale): expected 3 args, got ${args.length}")
  }
}
