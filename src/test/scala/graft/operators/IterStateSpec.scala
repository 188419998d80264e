package graft.operators

import graft.SparkSpec
import graft.analytics.Graph
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The input checkpoint of [[IterState.fixpoint]] keeps the partitioning it
  * was taken with, so the rounds exchange only the state side. */
class IterStateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("the rounds read the input checkpoint co-located: only the state side is exchanged") {
    val s = spark
    import s.implicits._
    // the scan of the adjacency checkpoint: the one leaf with a `b` column
    def isInput(p: SparkPlan) = p match {
      case r: RDDScanExec => r.output.exists(_.name == "b")
      case _ => false
    }
    // AQE would coalesce this small input to one partition
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val chain = (1L until 30L).map(i => (i, i + 1))
      val pairs = chain.toDF("id_a", "id_b")
      val edges = chain.toDF("s1", "s2")
      val seeds = Seq(1L).toDF("node")
      for ((name, run) <- Seq[(String, () => Any)](
          "connectedComponents" -> (() => Dedup.connectedComponents(pairs, maxRounds = 40)),
          "bfsLayers, 6 hops" -> (() => Graph.bfsLayers(edges, seeds, 6)))) {
        // every executed plan, the plans of the round caches it scans included
        def plans(p: SparkPlan): Seq[SparkPlan] = p +: collect(p) {
          case m: InMemoryTableScanExec => m.relation.cachedPlan
        }.flatMap(plans)
        val executed = withActions(run())._2.flatMap(a => plans(a._2.executedPlan))
        val scans = executed.flatMap(collect(_) { case p if isInput(p) => p })
        assert(scans.nonEmpty, name)
        assert(scans.forall(_.outputPartitioning.numPartitions >= 2),
          s"$name: ${scans.map(_.outputPartitioning)}")
        // an exchange fed by the scan through row-wise operators only (no
        // join, no aggregate in between) re-partitions the input itself
        def feeds(p: SparkPlan): Boolean = isInput(p) || (p.children.size == 1 &&
          !p.isInstanceOf[BaseAggregateExec] && feeds(p.children.head))
        val reexchanged = executed.flatMap(collect(_) {
          case e: ShuffleExchangeLike if feeds(e.child) => e
        })
        assert(reexchanged.isEmpty, s"$name re-exchanges its input: ${reexchanged.mkString("\n")}")
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
