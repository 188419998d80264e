package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Multi-pattern substring search: the indices (0-based, ascending,
  * distinct) of every needle contained in the text, found in ONE pass over
  * the text with an Aho-Corasick automaton.
  *
  * This is the documented scale path of
  * [[graft.operators.Dedup.substringProbe]]: the per-needle `Contains`
  * plan re-scans the text once per needle (fine for dozens, quadratic pain
  * for thousands), while the automaton's goto/fail walk is O(len(text))
  * regardless of needle count. Tier (b) of the builder ladder — a custom
  * Catalyst Expression carrying the needle set; the automaton itself is
  * built once per executor (`@transient lazy val`), never serialized.
  *
  * Matching is over UTF-8 BYTES, which coincides with character substring
  * containment for well-formed UTF-8 (a needle's byte sequence appears in
  * the text's byte sequence iff the needle appears in the text).
  */
case class GraftContainsAny(child: Expression, needles: Seq[String])
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val automaton = new AhoCorasick(
    needles.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray)

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    new GenericArrayData(automaton.matchedPatterns(text))
  }

  override protected def withNewChildInternal(c: Expression): GraftContainsAny =
    copy(child = c)
  override def prettyName: String = "graft_contains_any"
}

/** Byte-level Aho-Corasick: classic goto/fail/output construction.
  * Nodes are dense-id'd; transitions are per-node byte maps (needle sets
  * are small — the broadcast-side contract — so map lookups beat a 256-way
  * dense table on memory without hurting the O(text) walk). */
final class AhoCorasick(patterns: Array[Array[Byte]])
  extends Serializable {

  private val transitions =
    scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.HashMap.empty[Byte, Int])
  private val outputs = scala.collection.mutable.ArrayBuffer(List.empty[Int])
  private val fail = scala.collection.mutable.ArrayBuffer(0)

  // goto trie
  patterns.zipWithIndex.foreach { case (p, idx) =>
    var node = 0
    p.foreach { b =>
      node = transitions(node).getOrElseUpdate(b, {
        transitions += scala.collection.mutable.HashMap.empty[Byte, Int]
        outputs += Nil
        fail += 0
        transitions.length - 1
      })
    }
    outputs(node) = idx :: outputs(node)
  }

  // fail links by BFS; output sets union along fail chains
  locally {
    val queue = scala.collection.mutable.Queue.empty[Int]
    transitions(0).values.foreach(queue += _)
    while (queue.nonEmpty) {
      val node = queue.dequeue()
      transitions(node).foreach { case (b, next) =>
        queue += next
        var f = fail(node)
        while (f != 0 && !transitions(f).contains(b)) f = fail(f)
        fail(next) = transitions(f).get(b).filter(_ != next).getOrElse(0)
        outputs(next) = outputs(next) ++ outputs(fail(next))
      }
    }
  }

  /** Distinct matched pattern indices, ascending. */
  def matchedPatterns(text: Array[Byte]): Array[Int] = {
    val seen = new java.util.TreeSet[Int]()
    var node = 0
    var i = 0
    while (i < text.length && seen.size < patterns.length) {
      val b = text(i)
      while (node != 0 && !transitions(node).contains(b)) node = fail(node)
      node = transitions(node).getOrElse(b, 0)
      outputs(node).foreach(seen.add(_))
      i += 1
    }
    val out = new Array[Int](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }
}

object GraftContainsAny {
  /** `graft_contains_any(text, array('n1', 'n2', ...))`: the needle array
    * must be a foldable literal. */
  val builder: Seq[Expression] => Expression = {
    case Seq(text, arr) if arr.foldable =>
      val data = arr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val needles = (0 until data.numElements())
        .map(i => data.getUTF8String(i).toString)
      GraftContainsAny(text, needles)
    case _ => throw new IllegalArgumentException(
      "graft_contains_any(text, literalStringArray)")
  }
}
