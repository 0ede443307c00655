package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Deduplicate, Distinct, HintInfo, Join, JoinHint, LeafNode, LocalRelation, LogicalPlan,
  OneRowRelation, RebalancePartitions, Repartition, RepartitionOperation, ResolvedHint, SetOperation,
  SHUFFLE_HASH, Sort, UnaryNode, Union, Window}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Plans a statement whose every input is one partition as one task.
  *
  * Spark reads a small table as a single task, yet a GROUP BY, join, window
  * or ORDER BY over it still plans an exchange: a job per stage, AQE
  * re-planning between them, and a shuffle of a few kilobytes. Here each
  * input is put under `Repartition(1, shuffle = false)`, a `CoalesceExec`
  * whose output is `SinglePartition`, which satisfies every distribution an
  * operator can require except a broadcast. `EnsureRequirements` then plans
  * no exchange, AQE has no stage to re-plan, and the statement runs as one
  * job. A `Union` of one-partition children concatenates their partitions,
  * so it gets one coalesce of its own.
  *
  * An input counts only when Spark would already read it as one partition,
  * by Spark's own split rule:
  *  - a file relation (not bucketed) of at most one file no larger than
  *    `FilePartition.maxSplitBytes`, the size Spark splits a file at;
  *  - a `LogicalRDD` of one partition;
  *  - a `LocalRelation` or `OneRowRelation`.
  * Any other leaf, in the plan or in a subquery, leaves the statement as it
  * is: a multi-file or multi-partition relation, a CTE reference, or a
  * subtree the cache manager would serve from a persisted frame (a coalesce
  * in it would stop the cached plan from matching).
  *
  * It acts only where an exchange would otherwise be planned: an aggregate
  * or DISTINCT, an INTERSECT or EXCEPT, a join, a window, a deduplication
  * or a global sort. A filter, projection, limit or UNION ALL over the
  * scans keeps its shape.
  *
  * An equi-join that Spark would broadcast (a buildable side within
  * `spark.sql.autoBroadcastJoinThreshold`) would still run its build as a
  * separate broadcast job. Its sides are hinted `SHUFFLE_HASH` instead: the
  * same in-memory hash table of the smaller side, built inside the task. A
  * side that already carries a hint keeps it.
  *
  * Applied by [[graft.engine.GraftEngine]] to a SELECT's analyzed plan, not
  * as a session rule: plans built through `spark.sql` or DataFrames keep
  * Spark's distributed shape.
  */
object OneTask extends JoinSelectionHelper {

  def apply(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    if (plan.collectWithSubqueries { case p if exchanges(p) => p }.isEmpty) plan
    else if (!plan.collectWithSubqueries { case l: LeafNode => l }.forall(onePartition(spark, _))) plan
    else if (servedFromCache(spark, plan)) plan
    else plan.transformUpWithSubqueries {
      case l: LeafNode => Repartition(1, shuffle = false, l)
      case u: Union if u.children.forall(single) => Repartition(1, shuffle = false, u)
      case j: Join if j.hint == JoinHint.NONE && ExtractEquiJoinKeys.unapply(j).isDefined &&
          canPlanAsBroadcastHashJoin(j, spark.sessionState.conf) =>
        j.copy(left = shuffleHash(j.left), right = shuffleHash(j.right))
    }

  /** An operator that requires a distribution one partition satisfies. */
  private def exchanges(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Distinct | _: SetOperation | _: Join | _: Window | _: Deduplicate => true
    case s: Sort => s.global
    case _ => false
  }

  private def onePartition(spark: SparkSession, leaf: LogicalPlan): Boolean = leaf match {
    case _: LocalRelation | _: OneRowRelation => true
    case r: LogicalRDD => !r.isStreaming && r.rdd.getNumPartitions == 1
    case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) if fs.bucketSpec.isEmpty =>
      val dirs = fs.location.listFiles(Nil, Nil)
      val files = dirs.flatMap(_.files)
      files.size <= 1 && files.forall(_.getLen <= FilePartition.maxSplitBytes(spark, dirs))
    case _ => false
  }

  private def servedFromCache(spark: SparkSession, plan: LogicalPlan): Boolean =
    GraftSqlBridge.withCachedData(spark, plan)
      .collectWithSubqueries { case r: InMemoryRelation => r }.nonEmpty

  /** Whether `p` runs as one partition once its leaves are coalesced. */
  private def single(p: LogicalPlan): Boolean = p match {
    case r: RepartitionOperation => r.numPartitions == 1
    case _: Union | _: RebalancePartitions | _: LeafNode => false
    case _ => p.children.forall(single)
  }

  /** `side` hinted `SHUFFLE_HASH`, unless it carries a join hint already:
    * one that the optimizer would hand to this join, i.e. one reached
    * through unary operators or an INTERSECT/EXCEPT's left side, as
    * `EliminateResolvedHint` collects them.
    */
  private def shuffleHash(side: LogicalPlan): LogicalPlan = {
    def hinted(p: LogicalPlan): Boolean = p match {
      case _: ResolvedHint => true
      case u: UnaryNode => hinted(u.child)
      case s: SetOperation => hinted(s.left)
      case _ => false
    }
    if (hinted(side)) side else ResolvedHint(side, HintInfo(strategy = Some(SHUFFLE_HASH)))
  }
}
