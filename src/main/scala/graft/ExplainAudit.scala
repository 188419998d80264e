package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.PlanBridge

/** Plan auditor: prints formatted physical plans for selected queries so the
  * scale-critical properties can be checked (and are asserted in PlanSpec):
  * PushedFilters on scans, BroadcastHashJoin on dim joins,
  * TakeOrderedAndProject for top-k, no CartesianProduct anywhere.
  */
object ExplainAudit {
  def plan(spark: SparkSession, dir: String, name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Mechanical shuffle tally for the COVERAGE.md cost table (VERDICT r7
    * item 8): per query, the number of hash/range Exchanges (each one is a
    * full reshuffle of its input at scale) and BroadcastExchanges (driver-
    * collected small side, no data-sized shuffle) in the UNOPTIMIZED-by-AQE
    * initial physical plan. Counts come from the same plan text PlanSpec
    * pins, so the table is reproducible: `runMain graft.ExplainAudit counts`. */
  def shuffleCounts(spark: SparkSession, dir: String, name: String): (Int, Int) = {
    val p = plan(spark, dir, name)
    // Count only the detail headers "(n) NodeName" (ADVICE r8): the tree
    // section prints every operator a second time as "+- NodeName (n)", so
    // a raw substring count double-counts each node; and an exact-name
    // anchor keeps ReusedExchange (a reuse, not a new data-sized shuffle)
    // out of the Exchange tally.
    def nodeCount(nodeName: String) = p.linesIterator
      .count(_.matches(s"""\\(\\d+\\) $nodeName\\b.*"""))
    (nodeCount("Exchange"), nodeCount("BroadcastExchange"))
  }

  /** Column-level source lineage, mechanically off the same formatted plan
    * text PlanSpec pins: every file scan's (table, read column) pairs. The
    * governance query this answers — "which registered queries read column
    * X" — is the column-level impact analysis a GDPR erasure or a schema
    * migration starts from, and deriving it from the PHYSICAL plan means
    * it reflects pruning (a column dropped by the optimizer does not
    * appear, so the answer is what is actually READ, not what the query
    * text mentions). */
  def lineage(spark: SparkSession, dir: String, name: String): Seq[(String, String)] = {
    // Queries that return a localCheckpoint snapshot (the iterative
    // family, r10) have NO file scans left in their final plan — the
    // reads happen in the executions their construction triggers. Capture
    // those via the SQL-execution-start events (whose plan description is
    // the same formatted text this parser reads) and union with the final
    // plan, so the impact index keeps every query's true source columns.
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            executed.add(e.physicalPlanDescription)
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val finalPlan =
      try plan(spark, dir, name)
      finally { PlanBridge.drainListeners(spark); spark.sparkContext.removeSparkListener(listener) }
    import scala.jdk.CollectionConverters._
    (executed.asScala.toVector :+ finalPlan)
      .flatMap(parseScans).distinct.toList
  }

  private def parseScans(p: String): Seq[(String, String)] = {
    val lines = p.linesIterator.toVector
    val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var i = 0
    while (i < lines.length) {
      if (lines(i).matches("""\(\d+\) Scan .*""")) {
        var table = "<unknown>"
        var cols = Seq.empty[String]
        var j = i + 1
        while (j < lines.length && !lines(j).matches("""\(\d+\) .*""")) {
          val l = lines(j)
          if (l.contains("Location:")) {
            """([A-Za-z0-9_.\-]+)\.(parquet|csv|json|orc|xml|txt)""".r
              .findAllMatchIn(l).toSeq.lastOption
              .foreach(m => table = m.group(1))
          }
          if (l.trim.startsWith("ReadSchema:")) {
            cols = """struct<(.*)>""".r.findFirstMatchIn(l)
              .map(_.group(1).split(",").toSeq
                .map(_.split(":").head.trim).filter(_.nonEmpty))
              .getOrElse(Seq.empty)
          }
          j += 1
        }
        cols.foreach(c => out += ((table, c)))
        i = j
      } else i += 1
    }
    out.distinct.toList
  }

  /** `runMain graft.ExplainAudit [lineage|counts] [sfDir] [query…]`:
    * plans (default), scan lineage or shuffle counts for each query. */
  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.filter(Set("lineage", "counts"))
    val args = argv.drop(mode.size)
    val spark = GraftSession.local(cores = 4, shufflePartitions = 4)
    def show(dir: String, n: String): Unit = mode match {
      case Some("lineage") =>
        try {
          val cols = lineage(spark, dir, n)
            .map { case (t, c) => s"$t.$c" }.sorted.mkString(" ")
          println(s"LINEAGE $n\t$cols")
        } catch { case e: Throwable =>
          println(s"LINEAGE $n\tERROR ${e.getClass.getSimpleName}")
        }
      case Some(_) => // counts
        try {
          val (ex, bc) = shuffleCounts(spark, dir, n)
          println(f"$n%-34s shuffles=$ex broadcasts=$bc")
        } catch { case e: Throwable =>
          println(f"$n%-34s ERROR ${e.getClass.getSimpleName}")
        }
      case None =>
        println(s"\n########## $n ##########")
        println(plan(spark, dir, n))
    }
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else if (mode.isDefined) SparkEntry.queries.keys.toSeq.sorted
      else planned
    names.foreach(show(dir, _))
    spark.stop()
  }

  private val planned = Seq(
    "p9_range_limit", "j1_broadcast_dim", "j4_star_join", "t3_topk_rank",
    "a5_two_key_group", "dedup_minhash_pairs", "ann_cosine_topk",
    "dedup_jaccard_pairs", "w2_running_sum",
    "asof_join_native", "j9_bucketed_join", "range_join_binned",
    "text_tfidf_topk", "dedup_jaccard_incremental", "emb_label_centroids",
    "f6_variant_agg",
    "dedup_levenshtein", "dedup_canonical_keep", "b1_funnel_steps",
    "text_quality_prune", "emb_centroid_assign", "b7_stickiness",
    // round-7 heavy entries
    "ann_cosine_filtered", "ann_euclidean_topk", "layout_zorder",
    "b9_interval_union", "inc_snapshot_diff", "text_oov_ratio",
    "dedup_split_leakage", "dedup_semantic",
    // round-8 entries
    "ann_lsh_incremental", "text_bm25_topk", "ann_hybrid_rerank",
    "dedup_seen_sharded")
}
