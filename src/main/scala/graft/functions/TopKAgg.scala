package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Bounded top-k heap state for [[TopKAgg]]: a fixed-capacity binary
  * min-heap over parallel primitive arrays, ordered by (score asc,
  * tag desc) so the ROOT is always the weakest kept element — an incoming
  * row either beats the root (replace + sift down, O(log k)) or is
  * discarded in O(1). Ties on score break by smaller tag (tags are unique
  * keys in practice), which makes the whole aggregate deterministic under
  * any partitioning.
  */
final class TopKHeap(val k: Int) extends Serializable {
  val scores = new Array[Double](k)
  val tags = new Array[Long](k)
  var size = 0

  /** true iff (s1,t1) orders strictly WORSE than (s2,t2). */
  @inline private def worse(s1: Double, t1: Long, s2: Double, t2: Long): Boolean =
    s1 < s2 || (s1 == s2 && t1 > t2)

  def insert(s: Double, t: Long): Unit = {
    // NaN scores are skipped like nulls (ADVICE r10): under raw < a NaN
    // admitted while size<k could never be evicted, and eval()'s sort
    // comparator would lose transitivity. Guarding here covers update,
    // merge, and deserialize in one place.
    if (java.lang.Double.isNaN(s)) return
    if (size < k) {
      var i = size
      scores(i) = s; tags(i) = t; size += 1
      // sift up: parent must be <= child in the worst-first order
      while (i > 0 && worse(scores(i), tags(i), scores((i - 1) / 2), tags((i - 1) / 2))) {
        val p = (i - 1) / 2
        swap(i, p); i = p
      }
    } else if (worse(scores(0), tags(0), s, t)) {
      scores(0) = s; tags(0) = t
      siftDown(0)
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val tt = tags(i); tags(i) = tags(j); tags(j) = tt
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < size && worse(scores(l), tags(l), scores(m), tags(m))) m = l
      if (r < size && worse(scores(r), tags(r), scores(m), tags(m))) m = r
      if (m == i) done = true
      else { swap(i, m); i = m }
    }
  }
}

/** Native Catalyst aggregate computing per-group top-k in ONE aggregation
  * pass: `graft_topk(score, tag, k)` keeps the k rows with the largest
  * `score` (ties broken by smaller `tag`) and returns them as a sorted
  * `array<struct<score double, tag bigint>>`.
  *
  * Why this exists (the 100-TB argument): Spark's idiomatic per-group
  * top-k is `row_number() over (partition by g order by s desc)` +
  * filter. Since 3.5 the optimizer does push the rank<=k filter down as
  * a partial WindowGroupLimit, so the naive "it shuffles every row"
  * objection no longer holds — but the window route still pays a Sort
  * per map partition, a final Sort per group, and, decisively, it
  * cannot produce group-level aggregates (count/sum/avg over the WHOLE
  * group) in the same pass: those need a second aggregation joined back.
  * This aggregate is algebraic in the MinHashAgg sense
  * (`ElementwiseMin.scala`): each map task keeps a k-sized heap per
  * group (O(n) with O(1) reject for non-qualifying rows — no sort ever
  * touches the fact), the shuffle carries one packed k-row state per
  * (partition, group), and merge is k·log k. Because it composes inside
  * `.agg(...)` beside count/sum, a "group profile + top exemplars" query
  * is ONE fact scan and ONE metadata-sized Exchange (see
  * t6_topk_group_native) instead of window-sort plus re-join.
  *
  * Reference scope note: the reference's "top zones by revenue" dashboard
  * queries (ex04_dashboard/streamlit_app/app.py:239-252) are flat top-k
  * over a pre-aggregated frame; the grouped form is part of the
  * training-data-pipeline extension (per-source top documents, per-bucket
  * exemplars) the brief asks for.
  */
case class TopKAgg(
    score: Expression,
    tag: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k > 0 && k <= (1 << 20), s"graft_topk k out of range: $k")

  // The function is registered session-wide (GraftExtensions), so external
  // callers may pass DECIMAL prices or int tags: declare the expected types
  // and let Catalyst insert casts (or fail at analysis) instead of the
  // executor-side ClassCastException a raw asInstanceOf would throw.
  // (declared as Seq[DataType], a covariant refinement of the
  // Seq[AbstractDataType] contract — AbstractDataType itself is sql-private)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def children: Seq[Expression] = Seq(score, tag)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("tag", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    val t = tag.eval(input)
    if (s != null && t != null) {
      buf.insert(s.asInstanceOf[Double], t.asInstanceOf[Long])
    }
    buf
  }

  override def merge(b1: TopKHeap, b2: TopKHeap): TopKHeap = {
    var i = 0
    while (i < b2.size) {
      b1.insert(b2.scores(i), b2.tags(i))
      i += 1
    }
    b1
  }

  override def eval(buf: TopKHeap): Any = {
    // best-first output: score desc, tag asc
    val idx = Array.range(0, buf.size).sortWith { (a, b) =>
      buf.scores(a) > buf.scores(b) ||
        (buf.scores(a) == buf.scores(b) && buf.tags(a) < buf.tags(b))
    }
    new GenericArrayData(idx.map { i =>
      val row = new GenericInternalRow(2)
      row.setDouble(0, buf.scores(i))
      row.setLong(1, buf.tags(i))
      row: Any
    })
  }

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.tags(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val h = new TopKHeap(k)
    var i = 0
    while (i < n) {
      h.insert(bb.getDouble(), bb.getLong()); i += 1
    }
    h
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKAgg =
    copy(score = c(0), tag = c(1))
  override def prettyName: String = "graft_topk"
}

object TopKAgg {
  val builder: Seq[Expression] => Expression = {
    // k: any FOLDABLE integral expression (literal, CAST(lit), named arg
    // constant-folded) — not just a bare Int literal (ADVICE r10)
    case Seq(s, t, kExpr) if kExpr.foldable &&
        Seq(ByteType, ShortType, IntegerType, LongType).contains(kExpr.dataType) =>
      kExpr.eval() match {
        case n: java.lang.Number => TopKAgg(s, t, n.intValue())
        case other => throw new IllegalArgumentException(
          s"graft_topk k must be a non-null integer constant, got $other")
      }
    case args => throw new IllegalArgumentException(
      s"graft_topk(score, tag, intConstant), got ${args.length} args")
  }
}
