package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** What a repeated query may and may not reuse from the queries before it:
  * compiled codegen classes yes (the session's cache is sized for the
  * engine's working set), cached data no (operator caches are released by
  * the query that made them). */
class QueryReuseSpec extends SparkSpec {

  test("a repeated round of 150 distinct plans compiles no new classes") {
    // each multiplier is inlined as a Java literal, so every query
    // generates its own class; at Spark's default cache size of 100 the
    // second round would evict and recompile all ~150 of them
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(8).select(col("id") * lit(i)).collect()
    }
    round()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0, s"second round recompiled $compiled classes")
  }

  test("the iterative curation entries leave no cached data behind") {
    spark.catalog.clearCache()
    for (name <- Seq("dedup_components", "g6_bfs_layers", "g7_sssp_bounded")) {
      SparkEntry.queries(name)(spark, sf001).collect()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
    }
  }
}
