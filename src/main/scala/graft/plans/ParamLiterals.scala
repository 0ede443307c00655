package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Expression, ExpressionWithRandomSeed, LeafExpression, Literal, NamedExpression,
  Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null constant whose generated code reads its value from the
  * compiled class's `references` array instead of writing it into the Java
  * source.
  *
  * Spark's `Literal.doGenCode` inlines int, bigint, date, timestamp, double
  * (and the other primitive-backed types) as source text, so the same
  * statement shape with a new constant is a new source: a miss in the
  * codegen cache, a Janino compile, and a class the JIT has never seen.
  * Here the source holds only a field, filled once per generated instance
  * from `references`, so every value of one shape shares one class.
  *
  * It evaluates and renders exactly as the `Literal` it replaces (EXPLAIN
  * text is unchanged) and is equal only to a `ParamLiteral` of the same
  * value, so plans that differ in a constant never canonicalize equal. It
  * is not foldable: nothing may constant-fold it after planning.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ParamLiteral holds a non-null value")

  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Replaces the inlined constants of `FilterExec` conditions and
  * `ProjectExec` lists with [[ParamLiteral]]s, just before whole-stage
  * codegen collapses them into a stage. Scan nodes are never touched: their
  * pushed, partition and cached-batch filters keep plain literals, so
  * parquet pushdown and pruning see what they always saw. The seeds of
  * random expressions stay literals, as those expressions require.
  *
  * Injected as a pre-transition columnar rule (see [[graft.GraftSession]]):
  * Spark applies those right before `CollapseCodegenStages`, both in the
  * non-adaptive preparations and in every adaptive query stage.
  */
object ParamLiterals extends Rule[SparkPlan] {

  /** The rule in the form `SparkSessionExtensions.injectColumnar` takes. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = parameterize(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(parameterize(_).asInstanceOf[NamedExpression]))
  }

  private def parameterize(e: Expression): Expression = e match {
    case _: ExpressionWithRandomSeed | _: Nondeterministic => e
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case _ =>
      val p = e.mapChildren(parameterize)
      // an expression that takes a constant argument (regexp_replace's
      // position, round's scale) stops resolving when that argument is
      // not foldable: it keeps its own literals
      if ((p eq e) || p.resolved) p
      else e.mapChildren {
        case l: Literal => l
        case c => parameterize(c)
      }
  }

  /** The types whose values `Literal.doGenCode` writes into the source;
    * every other type already goes through `references`.
    */
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType |
         _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }
}
