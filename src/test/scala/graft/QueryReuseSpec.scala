package graft

import graft.analytics.Graph
import graft.operators.Dedup
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
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
    val s = spark
    import s.implicits._
    spark.catalog.clearCache()
    val conf = spark.conf.getAll
    // Checkpoints live outside the cache manager: every RDD a call leaves
    // persisted must be a checkpoint its returned frame reads (the snapshot)
    def leavesNothing(name: String)(run: => Any): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val kept = run match {
        case df: DataFrame =>
          df.collect()
          df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.toSet
        case _ => Set.empty[Int]
      }
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before -- kept
      assert(left.isEmpty, s"$name left persisted RDDs ${left.toSeq.sorted}")
      assert(spark.conf.getAll === conf, s"$name changed the session conf")
    }
    val path = (1L until 10L).map(i => (i, i + 1, 1L)).toDF("s1", "s2", "w")
    val seeds = Seq(1L).toDF("node")
    leavesNothing("bfsLayers, 6 hops")(Graph.bfsLayers(path.select("s1", "s2"), seeds, 6))
    leavesNothing("ssspBounded, 6 hops")(Graph.ssspBounded(path, seeds, 6))
    leavesNothing("triangleCounts")(Graph.triangleCounts(path.select("s1", "s2")))
    val chain = (1L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    leavesNothing("connectedComponents, cut after rounds 5 and 10")(
      Dedup.connectedComponents(chain.filter(col("id_a") < 14)))
    leavesNothing("connectedComponents, compressed")(
      Dedup.connectedComponents(chain, pathCompression = true))
    leavesNothing("connectedComponents out of rounds") {
      intercept[IllegalStateException](Dedup.connectedComponents(chain, maxRounds = 2))
    }
    for (name <- Seq("dedup_components", "g6_bfs_layers", "g7_sssp_bounded", "g1_pagerank",
        "g2_triangle_count", "g3_kcore", "g4_link_prediction", "g5_label_propagation",
        "dedup_canonical_keep", "link_entity_clusters", "dedup_jaccard_pairs",
        "dedup_jaccard_prefix", "dedup_jaccard_capped", "dedup_cluster_stats",
        "dedup_containment", "dedup_threshold_sweep", "pipeline_corpus_curation"))
      leavesNothing(name)(SparkEntry.queries(name)(spark, sf001))
  }
}
