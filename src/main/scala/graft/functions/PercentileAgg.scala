package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Open-addressing (double-bits → count) map for [[PercentileAgg]]:
  * the same value-frequency state Spark's `Percentile` keeps, without the
  * boxed-Double keys and generic `OpenHashMap[AnyRef, Long]` churn. Keys
  * are `doubleToLongBits` (canonical-NaN, sign-preserving — exactly the
  * distinctions `java.lang.Double.equals` makes, so the key space matches
  * the builtin's boxed map). */
final class DoubleCountMap(initialCapacity: Int = 64) extends Serializable {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) - 1) << 1
  private var mask = cap - 1
  // Fibonacci hashing over the TOP log2(cap) bits of the multiply (ADVICE
  // r14): a fixed ">>> 40" slice stops spreading once a group exceeds 2^24
  // distinct doubles — every further insert's initial probe lands in the
  // low 16M slots and lookups degrade toward linear scans exactly at the
  // cardinalities the primitive map exists for. Tracking the shift with
  // the capacity keeps the probe distribution uniform at any size; the
  // map layout never affects results (evaluation sorts the keys).
  private var shift = 64 - Integer.numberOfTrailingZeros(cap)
  private var keys = new Array[Long](cap)
  private var counts = new Array[Long](cap)
  private var occupied = new Array[Boolean](cap)
  var size = 0

  @inline private def slot(bits: Long): Int = {
    var i = ((bits * 0x9E3779B97F4A7C15L) >>> shift).toInt & mask
    while (occupied(i) && keys(i) != bits) i = (i + 1) & mask
    i
  }

  def add(bits: Long, n: Long): Unit = {
    val i = slot(bits)
    if (occupied(i)) counts(i) += n
    else {
      occupied(i) = true; keys(i) = bits; counts(i) = n; size += 1
      if (size * 2 > cap) grow()
    }
  }

  private def grow(): Unit = {
    val ok = keys; val oc = counts; val oo = occupied; val on = cap
    cap <<= 1; mask = cap - 1; shift -= 1
    keys = new Array[Long](cap); counts = new Array[Long](cap)
    occupied = new Array[Boolean](cap); size = 0
    var i = 0
    while (i < on) { if (oo(i)) add(ok(i), oc(i)); i += 1 }
  }

  /** Pre-size for a bulk insert of up to `extra` new keys — REQUIRED before
    * merging another map in ITS slot order. Both maps slice the same
    * Fibonacci hash from the top, so a donor's slot-order visit is monotone
    * in this map's home slots; if the table then grows MID-stream, the
    * already-inserted prefix forms one gap-free run that every further
    * insert probes to the end of — a measured 20-40× merge blow-up at
    * ~600k keys (quadratic in general). Pre-sized, monotone insertion is
    * the FAST case: home slots advance at ≥2 slots per insert (load ≤ 0.5)
    * while the frontier advances at 1, so probes stay O(1). */
  def reserve(extra: Int): Unit = {
    val need = size.toLong + math.max(extra, 0)
    while (need * 2 > cap) grow()
  }

  /** Visit every (bits, count) entry. */
  def foreach(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) { if (occupied(i)) f(keys(i), counts(i)); i += 1 }
  }

  /** Count for a present key (0 when absent). */
  def getCount(bits: Long): Long = {
    val i = slot(bits)
    if (occupied(i)) counts(i) else 0L
  }
}

/** `graft_percentile(x, p)` — bit-identical drop-in for Spark's exact
  * `percentile(x, p)` (continuous interpolation, frequency 1) over a
  * double column; `p` may be a foldable double or array<double>.
  *
  * Why (guide §1.2 step 2): the builtin `Percentile` keeps its
  * value-frequency state in `OpenHashMap[AnyRef, Long]` — every row boxes
  * the key, hashes a `java.lang.Double`, and walks generic map plumbing;
  * measured ~1.0 s for one pass over 600k rows at sf0.1. This kernel
  * keeps the identical state in primitive arrays keyed by
  * `doubleToLongBits` and reproduces the builtin's evaluation exactly:
  * sort distinct values by the nan-safe double ordering, build cumulative
  * counts, position = (N−1)·p, floor/ceil neighbors located with the same
  * `Arrays.binarySearch`-on-counts, and the same
  * `(higher−pos)·lowerKey + (pos−lower)·higherKey` interpolation
  * arithmetic. Empty input → null, null rows skipped — as the builtin.
  * (Sole divergence: a group containing BOTH −0.0 and +0.0 — there the
  * builtin's own output is partition-order-dependent, since its sort
  * treats them as equal but its map keeps them distinct; this kernel
  * orders −0.0 first deterministically. Interpolating between ±0.0 is
  * value-identical anyway.) Bit-equality vs the builtin is pinned in
  * PercentileAggSpec across ties, signs, single-row groups, nulls, NaN
  * and all-null groups.
  *
  * The 100-TB argument: state size and shuffle bytes are unchanged
  * (distinct-values map per group — the exact-percentile contract's
  * inherent cost); the per-row update drops from boxed-map churn to an
  * open-addressed primitive probe. */
case class PercentileAgg(
    child: Expression,
    percentages: Seq[Double],
    returnArray: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DoubleCountMap]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(percentages.nonEmpty && percentages.forall(p => p >= 0.0 && p <= 1.0),
    s"graft_percentile: percentages must be in [0, 1], got $percentages")

  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType

  override def createAggregationBuffer(): DoubleCountMap = new DoubleCountMap

  override def update(buf: DoubleCountMap, input: InternalRow): DoubleCountMap = {
    val v = child.eval(input)
    if (v != null)
      buf.add(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 1L)
    buf
  }

  override def merge(b1: DoubleCountMap, b2: DoubleCountMap): DoubleCountMap = {
    // pre-size: merging in b2's slot order without capacity headroom is
    // quadratic (see [[DoubleCountMap.reserve]])
    b1.reserve(b2.size)
    b2.foreach((bits, n) => b1.add(bits, n))
    b1
  }

  override def eval(buf: DoubleCountMap): Any = {
    if (buf.size == 0) return null
    val n = buf.size
    // sort keys by the IEEE-754 total order (monotone bit trick), a
    // deterministic refinement of Spark's nanSafeCompareDoubles: −0.0
    // before +0.0, NaN last — every nan-safe comparison agrees
    // self-inverse monotone encoding: s = bits ^ ((bits >> 63) >>> 1)
    // (negatives get magnitude bits flipped, sign bit kept) — signed sort
    // of s gives −∞ < … < −0.0 < +0.0 < … < +∞ < NaN
    val sortable = new Array[Long](n)
    var i = 0
    buf.foreach { (bits, _) =>
      sortable(i) = bits ^ ((bits >> 63) >>> 1); i += 1
    }
    java.util.Arrays.sort(sortable)
    val sortedKeys = new Array[Double](n)
    val cum = new Array[Long](n)
    var total = 0L
    i = 0
    while (i < n) {
      val bits = sortable(i) ^ ((sortable(i) >> 63) >>> 1)
      sortedKeys(i) = java.lang.Double.longBitsToDouble(bits)
      // O(1) count lookup for the sorted key
      total += buf.getCount(bits)
      cum(i) = total
      i += 1
    }
    val maxPosition = (total - 1).toDouble
    val out = percentages.map { p => percentileAt(sortedKeys, cum, maxPosition * p) }
    if (returnArray) new GenericArrayData(out.toArray) else out.head
  }

  /** The builtin's `getPercentile`, verbatim arithmetic. */
  private def percentileAt(keys: Array[Double], cum: Array[Long],
                           position: Double): Double = {
    val lower = math.floor(position).toLong
    val higher = math.ceil(position).toLong
    val lowerIndex = searchCount(cum, lower + 1)
    val lowerKey = keys(lowerIndex)
    if (higher == lower) return lowerKey
    val higherIndex = searchCount(cum, higher + 1)
    val higherKey = keys(higherIndex)
    if (java.lang.Double.doubleToLongBits(higherKey) ==
        java.lang.Double.doubleToLongBits(lowerKey)) return lowerKey
    (higher - position) * lowerKey + (position - lower) * higherKey
  }

  /** Index of the first cumulative count ≥ value — the builtin's
    * `binarySearchCount` (Arrays.binarySearch with insertion-point fixup). */
  private def searchCount(cum: Array[Long], value: Long): Int = {
    val ix = java.util.Arrays.binarySearch(cum, value)
    if (ix < 0) -(ix + 1) else ix
  }

  override def serialize(buf: DoubleCountMap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { (bits, n) => bb.putLong(bits); bb.putLong(n) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DoubleCountMap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val m = new DoubleCountMap(math.max(64, n * 2))
    var i = 0
    while (i < n) { m.add(bb.getLong(), bb.getLong()); i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(o: Int): PercentileAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PercentileAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PercentileAgg =
    copy(child = c(0))
  override def prettyName: String = "graft_percentile"
}

object PercentileAgg {
  val builder: Seq[Expression] => Expression = {
    case Seq(x, p) if p.foldable =>
      p.dataType match {
        case DoubleType =>
          p.eval() match {
            case d: java.lang.Double => PercentileAgg(x, Seq(d.doubleValue()), returnArray = false)
            case other => throw new IllegalArgumentException(
              s"graft_percentile: p must be a non-null double constant, got $other")
          }
        case ArrayType(DoubleType, _) =>
          val arr = p.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          PercentileAgg(x, arr.toDoubleArray().toSeq, returnArray = true)
        case other => throw new IllegalArgumentException(
          s"graft_percentile: p must be double or array<double>, got $other")
      }
    case args => throw new IllegalArgumentException(
      s"graft_percentile(x, pConstant): expected 2 args, got ${args.length}")
  }
}
