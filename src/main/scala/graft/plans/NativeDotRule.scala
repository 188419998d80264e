package graft.plans

import graft.functions.GraftDot

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule (the `Rule[LogicalPlan]` tier of the extension ladder):
  * rewrite the composable HOF dot-product shape
  *
  *   aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (acc, v) => acc + v)
  *
  * — which executes as an interpreted CodegenFallback lambda per element —
  * into the codegen'd [[graft.functions.GraftDot]] kernel. Semantics are
  * identical ON ALL INPUTS (ADVICE r5): GraftDot returns NULL on a length
  * mismatch and on null elements, exactly mirroring how zip_with's null
  * padding and null element products propagate through the Multiply/Add
  * fold to a NULL result — so the rewrite is safe regardless of the arrays'
  * `containsNull` flags, and user code written against the public
  * [[graft.operators.Similarity.dot]] API silently gets the native kernel
  * through [[graft.GraftExtensions]], which every graft session installs.
  * The match is deliberately
  * exact — any other fold shape is left untouched.
  */
object NativeDotRule extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(a, b,
          LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
            Seq(lx: NamedLambdaVariable, ly: NamedLambdaVariable), _)),
        Literal(0.0, DoubleType),
        LambdaFunction(Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _),
          Seq(la: NamedLambdaVariable, lv: NamedLambdaVariable), _),
        LambdaFunction(fin: NamedLambdaVariable, Seq(lf: NamedLambdaVariable), _))
      if x.exprId == lx.exprId && y.exprId == ly.exprId &&
        acc.exprId == la.exprId && v.exprId == lv.exprId &&
        fin.exprId == lf.exprId && isDoubleArray(a) && isDoubleArray(b) =>
      GraftDot(a, b)
  }
}
