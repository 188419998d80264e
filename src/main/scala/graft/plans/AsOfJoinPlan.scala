package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}

/** Logical as-of join: for each left row, attach `valueAttrs` from the
  * latest right row with the same key and `right.ts <= left.ts` (backward,
  * the default) or the earliest right row with `right.ts >= left.ts`
  * (forward — next-event lookup).
  *
  * This is the builder brief's tier (c): an operator Spark lacks, expressed
  * as a first-class plan node (this file) + a planner strategy + a physical
  * exec ([[AsOfJoinExec]]), installed via `SparkSessionExtensions`
  * ([[graft.GraftExtensions]]). The composed
  * union+window form ([[graft.operators.AsOfJoin.asOfBackward]]) remains the
  * tier-(a) reference implementation; both answer the same DuckDB `ASOF
  * LEFT JOIN` oracle.
  *
  * Output = all left columns, then the carried right value columns
  * (nullable: a left row with no earlier right match keeps NULL — left-join
  * semantics).
  *
  * `tolerance` (optional) bounds the match gap: a right row farther than
  * `tolerance` units from the left ts (in the ts column's NATIVE units —
  * microseconds for timestamps, days for dates, raw values for integral
  * columns) does not match. Since as-of always picks the nearest eligible
  * right row, checking the chosen row is exhaustive — any other candidate
  * is farther. `merge_asof(tolerance=...)` semantics.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    valueAttrs: Seq[Attribute],
    backward: Boolean = true,
    broadcastRight: Boolean = false,
    tolerance: Option[Long] = None)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ valueAttrs.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}
