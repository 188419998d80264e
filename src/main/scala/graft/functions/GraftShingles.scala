package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-n-gram shingler over a token array.
  *
  * The SQL-expressible form —
  * `array_distinct(transform(sequence(0, len-n), i -> concat_ws(' ',
  * element_at(toks, i+1), ...)))` — pays an interpreted lambda frame plus n
  * `element_at` calls per shingle, then a second pass for `array_distinct`.
  * This kernel does one JVM loop per row: concatenate n tokens, de-dup via
  * a hash set, first-occurrence order (identical to the HOF form's
  * `array_distinct` semantics — bit-equality asserted in DedupSpec). Docs
  * shorter than n tokens produce an empty array, same as the HOF guard.
  *
  * One opaque kernel per row => CodegenFallback is fine (no per-element
  * lambda dispatch to eliminate, same reasoning as [[GraftSimHash]]).
  *
  * Installed by [[graft.GraftExtensions]] as `graft_shingles(tokens, n)`.
  */
case class GraftShingles(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val count = toks.numElements() - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](count)
    var i = 0
    while (i < count) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        // null tokens must be passed to concatWs as null so it skips them
        // (same as SQL concat_ws). The explicit isNullAt check matters:
        // UnsafeArrayData.getUTF8String yields an EMPTY string for a null
        // slot (joined with separators), only GenericArrayData yields null
        // (ADVICE r5) — don't depend on the backing implementation.
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(UTF8String.fromString(" "), parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): GraftShingles =
    copy(child = c)
  override def prettyName: String = "graft_shingles"
}

object GraftShingles {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.IntegerType

  val builder: Seq[Expression] => Expression = {
    case Seq(e, Literal(n: Int, IntegerType)) => GraftShingles(e, n)
    case args => throw new IllegalArgumentException(
      s"graft_shingles(tokensArray, intLiteral), got ${args.length} args")
  }
}
