package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{SparkSession => ClassicSession, Dataset => ClassicDataset}

/** The one `private[sql]` doorway the engine needs: turning a custom
  * [[LogicalPlan]] node into a DataFrame and draining the listener bus.
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
}
