package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native vocabulary-hit counter over a token array: how many tokens belong
  * to a fixed (driver-known) vocabulary.
  *
  * The SQL form — `size(filter(toks, t -> t IN (...)))` — pays an
  * interpreted lambda frame per token plus a linear `In` scan of the
  * vocabulary; the language-ID entry evaluates FIVE of those per row. This
  * kernel hashes each token once against a prebuilt set in a single JVM
  * loop. NULL tokens never match (same as `In` returning NULL under the
  * filter). Bit-equality with the HOF form is asserted in TextOpsSpec.
  *
  * Installed by [[graft.GraftExtensions]] as `graft_vocab_hits(tokens, array('w', ...))` —
  * the vocabulary argument must be foldable; it is evaluated once at
  * resolution time, not per row.
  */
case class GraftVocabHits(child: Expression, vocab: Seq[String])
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  @transient private lazy val set = {
    val s = new java.util.HashSet[UTF8String](vocab.size * 2)
    vocab.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    var i = 0
    var hits = 0
    while (i < n) {
      if (!toks.isNullAt(i) && set.contains(toks.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(c: Expression): GraftVocabHits =
    copy(child = c)
  override def prettyName: String = "graft_vocab_hits"
}

object GraftVocabHits {
  val builder: Seq[Expression] => Expression = {
    case Seq(e, v) if v.foldable && v.dataType.isInstanceOf[ArrayType] &&
        v.dataType.asInstanceOf[ArrayType].elementType == StringType =>
      val arr = v.eval().asInstanceOf[ArrayData]
      val words = (0 until arr.numElements()).flatMap { i =>
        if (arr.isNullAt(i)) None else Some(arr.getUTF8String(i).toString)
      }
      GraftVocabHits(e, words)
    case args => throw new IllegalArgumentException(
      "graft_vocab_hits(tokensArray, foldableStringArray), got " +
        args.map(_.dataType).mkString(", "))
  }
}
