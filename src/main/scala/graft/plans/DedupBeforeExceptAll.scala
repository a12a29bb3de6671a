package graft.plans

import org.apache.spark.sql.catalyst.optimizer.ReplaceDeduplicateWithAggregate
import org.apache.spark.sql.catalyst.plans.logical.{Except, Intersect, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Replaces `dropDuplicates` with its aggregate before the optimizer
  * runs, in a plan with an `EXCEPT ALL` or `INTERSECT ALL`.
  *
  * Spark's optimizer rewrites both set operations in its "Replace
  * Operators" batch into a `Generate(ReplicateRows(n, cols))` whose
  * output reuses the exprIds of `cols`. `ReplaceDeduplicateWithAggregate`
  * runs later in the same batch and gives every non-key column of a
  * `dropDuplicates(keys)` a new exprId (`first(c) AS c`). It moves the
  * nodes above to the new ids through `transformUpWithNewOutput`,
  * which rewrites only a node whose `references` hold the old id, and
  * a `Generate`'s own output is taken out of its references. So the
  * `Generate` keeps the old id while the nodes above and below it move
  * on, and the task fails with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. In
  * Spark 4.1.2, `df.dropDuplicates("k").exceptAll(other)` fails this
  * way whenever `df` has a non-key column; Silver's dedup is such a
  * `dropDuplicates`. Run before the set operation is rewritten, the
  * same Spark rule moves every node above to the new ids. Streaming
  * deduplication is left alone, as that rule leaves it.
  */
object DedupBeforeExceptAll extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.exists {
      case Except(_, _, true) | Intersect(_, _, true) => true
      case _ => false
    }) ReplaceDeduplicateWithAggregate(plan)
    else plan
}
