package graft.functions

import graft.Tables
import graft.Ops.{Entry, Q}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `FunctionCatalog` — catalog-resolved scalar functions, the
  * extension point a table format uses to expose its partition transforms
  * to SQL (Iceberg's `system.bucket(n, col)` is exactly this shape).
  *
  * Each function is an `UnboundFunction` bound at analysis against the
  * actual argument schema, and the bound form carries BOTH execution paths
  * the contract defines:
  *  - the `invoke` MAGIC METHOD with exact primitive signatures — the
  *    analyzer compiles the call into a direct `Invoke` on these, keeping
  *    the expression inside whole-stage codegen with no boxing;
  *  - `produceResult(InternalRow)` as the specified reflective fallback.
  *
  * Registered as `graft_fns` in every graft session
  * ([[graft.GraftSession.baseConf]]); SQL then calls `graft_fns.layout.interleave_bits(x, y)`. Functions are
  * deterministic and oracle-replayable (integer arithmetic only), so the
  * graded entry hash-compares against DuckDB computing the same transform
  * in plain SQL.
  */
class GraftFunctionCatalog extends FunctionCatalog {

  private var catName: String = "graft_fns"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name

  override def name(): String = catName

  private val Namespace = "layout"
  private val fns: Map[String, UnboundFunction] = Map(
    "interleave_bits" -> InterleaveBitsFn,
    "bucket" -> BucketFn)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.length == 1 && namespace(0) == Namespace)
      fns.keys.toArray.sorted.map(n => Identifier.of(namespace, n))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().length == 1 && ident.namespace()(0) == Namespace)
      fns.getOrElse(ident.name(), throw new NoSuchFunctionException(ident))
    else throw new NoSuchFunctionException(ident)
}

/** `interleave_bits(x BIGINT, y BIGINT): BIGINT` — the Morton z-order key
  * of the low 16 bits of each coordinate; bit-identical to
  * [[graft.warehouse.Layout.zValue]] (suite-pinned) and to the unrolled
  * integer SQL the DuckDB oracle runs. */
object InterleaveBitsFn extends UnboundFunction {
  override def name(): String = "interleave_bits"
  override def description(): String =
    "interleave_bits(x BIGINT, y BIGINT): Morton z-order key of the low 16 bits"

  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException(
        s"interleave_bits expects (x, y), got ${inputType.length} arguments")
    new InterleaveBitsBound
  }

  def interleave(x: Long, y: Long): Long = {
    val xl = x & 0xFFFFL
    val yl = y & 0xFFFFL
    var r = 0L
    var i = 0
    while (i < 16) {
      r |= ((xl >> i) & 1L) << (2 * i)
      r |= ((yl >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }
}

/** Bound form — a PUBLIC top-level class, required for the magic-method
  * path: the analyzer resolves `invoke` through a MethodHandles lookup,
  * and an anonymous (package-private) class fails the access check and
  * errors instead of falling back. */
class InterleaveBitsBound extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(LongType, LongType)
  override def resultType(): DataType = LongType
  override def name(): String = "interleave_bits"
  override def canonicalName(): String = "graft.layout.interleave_bits"
  override def isResultNullable: Boolean = false
  /** Magic method — resolved by name+signature at analysis, executed as a
    * codegen `Invoke` (no boxing, no InternalRow). */
  def invoke(x: Long, y: Long): Long = InterleaveBitsFn.interleave(x, y)
  override def produceResult(input: InternalRow): java.lang.Long =
    InterleaveBitsFn.interleave(input.getLong(0), input.getLong(1))
}

/** `bucket(n INT, x BIGINT): INT` — deterministic hash bucket (Knuth
  * multiplicative hash folded to 32 bits), the catalog-function twin of
  * Iceberg's bucket transform. Plain integer arithmetic so the oracle can
  * replay it: `((x * 2654435761) & 0xFFFFFFFF) % n`. Null-safe via the
  * declared input types (Spark inserts the null checks around the call). */
object BucketFn extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n INT, x BIGINT): multiplicative-hash bucket in [0, n)"

  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException(
        s"bucket expects (n, x), got ${inputType.length} arguments")
    new BucketBound
  }

  def bucket(n: Int, x: Long): Int = {
    require(n > 0, s"bucket count must be positive, got $n")
    (((x * 2654435761L) & 0xFFFFFFFFL) % n).toInt
  }
}

/** Bound form of [[BucketFn]] — public top-level for the magic-method
  * lookup (see [[InterleaveBitsBound]]). */
class BucketBound extends ScalarFunction[java.lang.Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.layout.bucket"
  override def isResultNullable: Boolean = false
  def invoke(n: Int, x: Long): Int = BucketFn.bucket(n, x)
  override def produceResult(input: InternalRow): java.lang.Integer =
    BucketFn.bucket(input.getInt(0), input.getLong(1))
}

/** Graded entries for the catalog functions. */
object CatalogFunctions {

  /** F13 — both catalog functions in one SQL query, resolved through the
    * session-registered V2 FunctionCatalog and hash-graded against DuckDB
    * running the same integer arithmetic inline. */
  private val catalogFnQ: Q = (s, dir) => {
    Tables(s, dir).lineitem.createOrReplaceTempView("li_catfn")
    s.sql(
      """SELECT bucket, count(*) AS n,
        |       CAST(sum(z) AS BIGINT) AS z_sum,
        |       min(z) AS z_min, max(z) AS z_max
        |FROM (SELECT graft_fns.layout.interleave_bits(
        |               CAST(l_partkey AS BIGINT), CAST(l_suppkey AS BIGINT)) AS z,
        |             graft_fns.layout.bucket(8, CAST(l_orderkey AS BIGINT)) AS bucket
        |      FROM li_catfn)
        |GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  val entries: Seq[Entry] = Seq(
    Entry("f13_catalog_functions", catalogFnQ, Some {
      val z = graft.warehouse.Layout.zTerms("(l_partkey & 65535)", "(l_suppkey & 65535)", 16)
      s"""WITH z AS (
         |  SELECT CAST($z AS BIGINT) AS z,
         |         CAST(((l_orderkey * 2654435761) & 4294967295) % 8 AS INT) AS bucket
         |  FROM lineitem)
         |SELECT bucket, count(*) AS n, CAST(sum(z) AS BIGINT) AS z_sum,
         |       min(z) AS z_min, max(z) AS z_max
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
    }, headline = true),
  )
}
