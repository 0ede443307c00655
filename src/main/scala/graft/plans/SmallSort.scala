package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{
  Generate, LeafNode, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small final result in one task instead of range-partitioning it.
  *
  * A global ORDER BY plans as a range exchange under its sort: one job
  * samples the input for the range bounds, a map stage shuffles it, and
  * only then does the sort run. For a result of a few rows those two jobs
  * are most of the statement's cost, and AQE coalesces a shuffle that small
  * into one partition anyway. This AQE runtime optimizer rule sees every
  * re-optimized plan with the measured sizes of the stages that have run.
  * When the sort's input is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, it plans the
  * sort over `Repartition(1, shuffle = false)`: a coalesce into one task,
  * whose single-partition output needs no exchange.
  *
  * It acts only where that removes an exchange that has not yet run:
  *  - the sort is the plan root, under deterministic projections only (a
  *    `spark_partition_id` or `monotonically_increasing_id` projection
  *    reads the partitioning, so it keeps it);
  *  - no stage below it is range-partitioned, i.e. its exchange has not
  *    run;
  *  - its input size is measured, not guessed: every leaf is a
  *    materialized query stage or a relation with a row count, and no
  *    generator (whose fan-out the estimate ignores) lies between.
  * An ORDER BY … LIMIT is a limit over the sort and plans as
  * `TakeOrderedAndProject`, which has no exchange to remove. A statement
  * whose every input is one partition, run through
  * [[graft.engine.GraftEngine]], is planned as one task with no exchange
  * at all ([[OneTask]]), so no stage runs for this rule to see.
  *
  * Injected with `injectRuntimeOptimizerRule` (see [[graft.GraftSession]]).
  */
case class SmallSort(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case p @ Project(list, child) if list.forall(_.deterministic) =>
      val c = apply(child)
      if (c eq child) p else p.copy(child = c)
    case s @ Sort(_, true, child, _) if small(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case other => other
  }

  private def small(input: LogicalPlan): Boolean =
    !input.isInstanceOf[Repartition] && measured(input) &&
      input.stats.sizeInBytes <=
        spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  private def measured(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage =>
      q.isMaterialized && !q.physicalPlan.outputPartitioning.isInstanceOf[RangePartitioning]
    case l: LeafNode => l.stats.rowCount.isDefined
    case _: Generate => false
    case _ => p.children.forall(measured)
  }
}
