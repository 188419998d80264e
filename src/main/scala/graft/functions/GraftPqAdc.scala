package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd asymmetric-distance (ADC) lookup for product-quantized
  * vectors: `graft_pq_adc(qtab, codes)` = Σ_s qtab[s][codes[s]], where
  * `qtab` is the query's per-subspace distance table
  * (`array<array<double>>`, m × nCodes) and `codes` is a corpus vector's
  * PQ code word (`array<int>`, m entries).
  *
  * This is THE inner loop of PQ search (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): per candidate
  * it does m table lookups instead of a dim-wide float scan — at dim 64 /
  * m 8 that is 8 loads per candidate against 64 multiply-adds, on codes
  * that occupy m bytes rather than 4·dim. The HOF spelling
  * (`aggregate(sequence(...), ...)` with two nested `element_at`s) is
  * CodegenFallback with a lambda frame per subspace; like
  * [[GraftDot]] this compiles to a tight Java loop inside whole-stage
  * codegen — preference (b) of the builder brief.
  *
  * NULL semantics: NULL if either input is NULL, if the table and code
  * arrays disagree on m, if any table row / code element is NULL, or if a
  * code indexes outside its table row (a corrupt index must surface as
  * NULL, not a wrong distance).
  */
case class GraftPqAdc(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override protected def nullSafeEval(tab: Any, code: Any): Any = {
    val t = tab.asInstanceOf[ArrayData]
    val c = code.asInstanceOf[ArrayData]
    val m = t.numElements()
    if (m != c.numElements()) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (t.isNullAt(s) || c.isNullAt(s)) return null
      val row = t.getArray(s)
      val idx = c.getInt(s)
      if (idx < 0 || idx >= row.numElements() || row.isNullAt(idx)) return null
      acc += row.getDouble(idx)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tab, code) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val row = ctx.freshName("row")
      val idx = ctx.freshName("idx")
      val arrayData = classOf[ArrayData].getName
      s"""
         |int $m = $tab.numElements();
         |if ($m != $code.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $s = 0; $s < $m; $s++) {
         |    if ($tab.isNullAt($s) || $code.isNullAt($s)) { ${ev.isNull} = true; break; }
         |    $arrayData $row = $tab.getArray($s);
         |    int $idx = $code.getInt($s);
         |    if ($idx < 0 || $idx >= $row.numElements() || $row.isNullAt($idx)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += $row.getDouble($idx);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftPqAdc =
    copy(left = l, right = r)
  override def prettyName: String = "graft_pq_adc"
}

object GraftPqAdc {
  val builder: Seq[Expression] => Expression = {
    case Seq(t, c) => GraftPqAdc(t, c)
    case args => throw new IllegalArgumentException(
      s"graft_pq_adc(arrayArrayDouble, arrayInt), got ${args.length} args")
  }
}
