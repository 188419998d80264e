package graft.functions

import graft.{SparkSpec, Tables}
import graft.warehouse.Layout

import org.apache.spark.sql.functions._

class FunctionCatalogSpec extends SparkSpec {

  test("interleave_bits through the catalog is bit-identical to Layout.zValue") {
    val s = spark
    Tables(s, sf001).lineitem.limit(2000).createOrReplaceTempView("li_fcs")
    val viaCatalog = s.sql(
      """SELECT l_orderkey, l_linenumber,
        |       graft_fns.layout.interleave_bits(CAST(l_partkey AS BIGINT),
        |                                        CAST(l_suppkey AS BIGINT)) AS z
        |FROM li_fcs""".stripMargin)
    val viaColumn = s.table("li_fcs").select(col("l_orderkey"), col("l_linenumber"),
      Layout.zValue(col("l_partkey"), col("l_suppkey"), 16).as("z"))
    assert(viaCatalog.exceptAll(viaColumn).isEmpty &&
      viaColumn.exceptAll(viaCatalog).isEmpty)
  }

  test("the magic invoke path resolves (plan carries Invoke, not ApplyFunctionExpression)") {
    val s = spark
    Tables(s, sf001).region.createOrReplaceTempView("r_fcs")
    val q = s.sql(
      "SELECT graft_fns.layout.bucket(4, CAST(r_regionkey AS BIGINT)) AS b FROM r_fcs")
    val analyzed = q.queryExecution.analyzed.toString()
    assert(analyzed.contains("invoke"),
      s"expected the magic-method Invoke path, got:\n$analyzed")
    // hand-check one value: knuth hash of 0 is 0 -> bucket 0
    assert(q.orderBy("b").head().getInt(0) === 0)
  }

  test("bucket values stay in range and match the closed form") {
    for (x <- Seq(0L, 1L, 17L, 123456789L, Long.MaxValue / 3)) {
      val b = BucketFn.bucket(8, x)
      assert(b >= 0 && b < 8)
      assert(b === (((x * 2654435761L) & 0xFFFFFFFFL) % 8).toInt)
    }
  }

  test("catalog surface: listFunctions, unknown names, wrong arity") {
    val cat = new GraftFunctionCatalog
    cat.initialize("graft_fns", org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    val listed = cat.listFunctions(Array("layout")).map(_.name()).sorted
    assert(listed.toSeq === Seq("bucket", "interleave_bits"))
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
      cat.listFunctions(Array("nope"))
    }
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException] {
      cat.loadFunction(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("layout"), "missing"))
    }
    intercept[UnsupportedOperationException] {
      InterleaveBitsFn.bind(org.apache.spark.sql.types.StructType(Nil))
    }
  }
}
