package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, In, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType}

/** A numeric constant that generated code reads from a field instead of
  * spelling it out. `Literal` inlines its value into the generated Java,
  * so two requests of one query shape that differ only in a window bound,
  * a channel or a point produce two class texts, and each text costs a
  * Janino compile. `Param` hands its boxed value to the class through
  * `ctx.addReferenceObj` and copies it into a primitive field once per
  * class instance, so the class text is the same for every value and
  * Spark's JVM-wide codegen cache serves every request after the first.
  * Interpreted evaluation returns the value. Only `ParamLiteralsStrategy`
  * creates it, in physical plans; logical plans keep their `Literal`s.
  * Prints as the literal it replaces. */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Plans logical `Filter`/`Project` with the per-request numeric
  * constants of their expressions bound as `Param`s, so one query shape
  * compiles its whole-stage class once per JVM whatever values it
  * carries (the interactive `sig.slice(...)`, `channels(...)`, `at(...)`
  * and SQL `WHERE ... BETWEEN` traffic, where only the constants change).
  *
  * Over a file relation (the DataFrame path's, and the catalog path's
  * after `graft.catalog.ShotScanRule`) the plan comes from Spark's own
  * `FileSourceStrategy`, and only the `FilterExec`/`ProjectExec` above
  * the scan are rewritten: pushed data filters and partition filters keep
  * their `Literal`s, so shot pruning is unchanged, and so is row-group
  * pushdown for any other Parquet relation. A shot scan shows its pushed
  * filters in the plan but does not skip row groups with them: its reader
  * is shared by every request of its read shape (`graft.sources.Io.scan`),
  * so it cannot carry one request's window, and the `FilterExec` above
  * applies every predicate. Over any other leaf (cached, JDBC, local
  * relations) it returns `Nil` and Spark plans as before. Above a
  * non-leaf operator it emits the `FilterExec`/`ProjectExec`
  * `BasicOperators` would.
  *
  * Only non-null int/long/float/double literal operands of comparisons,
  * `In` and arithmetic become `Param`s. Ordinals (`element_at`), scales
  * (`round`), `sequence` bounds, strings and nulls stay `Literal`: Spark
  * requires some of them to be foldable, and they rarely vary per request.
  * Registered through `Planner.register` or `graft.functions.GraftExtensions`. */
case class ParamLiteralsStrategy() extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Filter | _: Project => leafBelow(plan) match {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        FileSourceStrategy(plan).map(bindAboveScan)
      case _: LeafNode => Nil
      case _ => bindAboveScan(plan match {
        case Filter(cond, child) => FilterExec(cond, planLater(child))
        case Project(list, child) => ProjectExec(list, planLater(child))
      }) :: Nil
    }
    case _ => Nil
  }

  private def leafBelow(plan: LogicalPlan): LogicalPlan = plan match {
    case Filter(_, child) => leafBelow(child)
    case Project(_, child) => leafBelow(child)
    case other => other
  }

  /** Binds the `FilterExec`/`ProjectExec` chain at the top of `plan`,
    * leaving what is below it (the scan, or a `PlanLater`) as planned. */
  private def bindAboveScan(plan: SparkPlan): SparkPlan = plan match {
    case FilterExec(cond, child) => FilterExec(ParamLiterals.bind(cond), bindAboveScan(child))
    case ProjectExec(list, child) =>
      ProjectExec(list.map(ParamLiterals.bind[NamedExpression]), bindAboveScan(child))
    case scan => scan
  }
}

object ParamLiterals {

  private def param(e: Expression): Expression = e match {
    case Literal(v, t @ (IntegerType | LongType | FloatType | DoubleType)) if v != null => Param(v, t)
    case other => other
  }

  /** `e` with the numeric literal operands of its comparisons, `In` lists
    * and arithmetic replaced by `Param`s. */
  def bind[E <: Expression](e: E): E = e.transformUp {
    case c @ (_: BinaryComparison | _: BinaryArithmetic | _: In) =>
      c.withNewChildren(c.children.map(param))
  }.asInstanceOf[E]
}
