package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{CoalescedHashPartitioning, HashPartitioning}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession, Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The one `private[sql]` doorway the engine needs: turning a custom
  * [[LogicalPlan]] node into a DataFrame, draining the listener bus, and
  * declaring a checkpoint's partitioning.
  * Spark deliberately keeps `Dataset.ofRows` internal — library extensions (Delta, Iceberg,
  * spark-rapids all do the same) place a small bridge inside the
  * `org.apache.spark.sql` package namespace rather than forking the
  * planner. Everything else in graft uses only public API.
  */
object PlanBridge {

  /** DataFrame over an arbitrary (to-be-analyzed) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Blocks until every listener event posted so far has been delivered,
    * so counts a listener keeps are complete right after an action. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `ck`, an eager local checkpoint of `source`, declaring the hash
    * partitioning `source`'s executed plan gave its blocks. Under AQE Spark
    * declares none for a checkpoint, so every join on the checkpoint's key
    * would exchange it again. The hash partitioning is kept when the
    * checkpoint has exactly its partitions; if AQE coalesced them into
    * one, it is declared over that one partition. */
  def keepPartitioning(source: DataFrame, ck: DataFrame): DataFrame = ck.queryExecution.analyzed match {
    case r: LogicalRDD =>
      val plan = source.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val n = r.rdd.getNumPartitions
      val attrs = AttributeMap(plan.output.zip(r.output))
      val keys = plan.outputPartitioning match {
        case h: HashPartitioning if h.numPartitions == n => Some(h.expressions)
        case c: CoalescedHashPartitioning if n == 1 => Some(c.from.expressions)
        case _ => None
      }
      val kept = keys.filter(_.forall(_.references.forall(attrs.contains))).map(ks =>
        HashPartitioning(ks.map(_.transform { case a: Attribute => attrs(a) }), n))
      kept.fold(ck)(p => ofRows(ck.sparkSession, r.copy(outputPartitioning = p)(
        ck.sparkSession.asInstanceOf[ClassicSession], Some(r.computeStats()), Some(r.constraints))))
    case _ => ck
  }
}
