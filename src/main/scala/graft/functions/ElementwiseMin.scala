package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Native Catalyst aggregate computing a full MinHash signature in one pass:
  * for each row's two base hashes (h1, h2) it folds
  * `min over rows of (h1 XOR rotl(h2, j))` for j in [0, width).
  *
  * This is the custom-Expression escape hatch of the builder brief
  * (preference (b): native Catalyst beats a UDF): Spark's built-in route is
  * explode(j)+groupBy — k× the shuffle volume — or a higher-order-function
  * array fold, which is CodegenFallback and pays an interpreted lambda per
  * element (measured 3.5s vs 0.3s at sf0.1). Here the k-wide family lives in
  * a primitive long[] buffer with a tight JVM loop; map-side partial merge
  * means the shuffle carries one signature per (partition, doc).
  *
  * Installed by [[graft.GraftExtensions]] as `graft_minhash(h1, h2, width)`.
  */
case class MinHashAgg(
    h1: Expression,
    h2: Expression,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(h1, h2)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(width)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = h1.eval(input)
    val b = h2.eval(input)
    if (a != null && b != null) {
      val x = a.asInstanceOf[Long]
      val y = b.asInstanceOf[Long]
      var j = 0
      while (j < width) {
        val v = x ^ java.lang.Long.rotateLeft(y, j)
        if (v < buf(j)) buf(j) = v
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < width) {
      if (b2(i) < b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * width)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(width)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashAgg =
    copy(h1 = c(0), h2 = c(1))
  override def prettyName: String = "graft_minhash"
}

object MinHashAgg {
  /** `graft_minhash(h1, h2, width)`: the width must be an int literal. */
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b, Literal(w: Int, IntegerType)) => MinHashAgg(a, b, w)
    case args => throw new IllegalArgumentException(
      s"graft_minhash(h1, h2, intLiteral), got ${args.length} args")
  }
}
