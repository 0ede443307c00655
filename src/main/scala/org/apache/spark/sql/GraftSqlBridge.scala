package org.apache.spark.sql

import org.antlr.v4.runtime.CharStreams
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` surface that custom logical plans
  * need: building a DataFrame from a hand-constructed (or parsed and
  * rewritten) LogicalPlan or from Catalyst rows, extracting the Catalyst
  * expression behind a public Column, the optimizer's first batch, and
  * Spark's SQL lexer.
  * All are the classic (non-Connect) implementations this engine always
  * runs on; the bridge is the entire private-API footprint of the project,
  * kept in one file on purpose.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `plan` analyzed and checked under a caller's planning tracker, as
    * `QueryExecution` analyzes it, for a caller that rewrites the analyzed
    * plan before building its DataFrame with [[ofAnalyzed]].
    */
  def analyze(spark: SparkSession, plan: LogicalPlan, tracker: QueryPlanningTracker): LogicalPlan = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive(tracker.measurePhase(QueryPlanningTracker.ANALYSIS)(
      session.sessionState.analyzer.executeAndCheck(plan, tracker)))
  }

  /** [[ofRows]] over a plan from [[analyze]], rewritten or not, under the
    * same tracker — the one `spark.sql` itself uses — so phases measured
    * before analysis (a parse) land in the DataFrame's
    * `queryExecution.tracker` beside the later ones. The plan is marked
    * analyzed, so the analyzer does not run over it again.
    */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan, tracker: QueryPlanningTracker): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan, tracker)
  }

  /** `plan` with each subtree the cache manager holds replaced by its
    * persisted frame, as `QueryExecution` substitutes them.
    */
  def withCachedData(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val cache = spark.sharedState.cacheManager
    if (cache.isEmpty) plan else cache.useCachedData(plan)
  }

  /** Eagerly convert a public Column to its Catalyst expression through the
    * session's converter (`ExpressionUtils.expression` would wrap it in a
    * lazy ColumnNodeExpression the analyzer cannot see through inside a
    * custom logical node).
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Session-free Column↔Expression conversions for expression-valued
    * helpers (e.g. `Tokenizer.segment`) that run before any session is in
    * scope. `ExpressionUtils.expression` suffices when the column is a
    * plain attribute/function tree (no session-specific resolution).
    */
  def expressionNoSpark(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The optimizer's first batch ("Finish Analysis") applied alone: it
    * replaces what only the optimizer rewrites before expressions can be
    * evaluated, such as RuntimeReplaceable functions and current_date.
    */
  def finishAnalysis(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.optimizer.FinishAnalysis(plan)

  /** A DataFrame over Catalyst rows, with no conversion to or from Row.
    * Every column is declared nullable. Its LogicalRDD carries `rowCount` and a size estimate of rows × row width,
    * so the optimizer sizes it as it sizes a LocalRelation instead of at
    * `spark.sql.defaultSizeInBytes`.
    */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      rowCount: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema.asNullable)
    val stats = Statistics(EstimationUtils.getOutputSize(output, rowCount), Some(BigInt(rowCount)))
    classic.Dataset.ofRows(session, LogicalRDD(output, rows)(session, Some(stats)))
  }
}

package catalyst.parser {
  /** Spark's SQL lexer over the upper-casing stream its parser reads (a
    * `private[parser]` class, hence this package).
    */
  object GraftSqlLexer {
    def apply(sql: String): SqlBaseLexer =
      new SqlBaseLexer(new UpperCaseCharStream(CharStreams.fromString(sql)))
  }
}
