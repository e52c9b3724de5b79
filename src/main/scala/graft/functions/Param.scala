package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression,
  Literal, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** A plan constant bound by reference instead of inlined into generated
  * code.
  *
  * A `Literal` compiles to a Java literal, so two plans that differ only
  * in a constant produce different source and Janino compiles each one.
  * A dashboard refresh is exactly that: the same PromQL with its window
  * bounds moved by one step, so every refresh paid every compile again.
  * `Param` emits a field initialised from the generated class's
  * `references` array: the source depends only on the query's shape, the
  * codegen cache hits, and the new value arrives with the instance.
  *
  * Non-foldable by design (nothing may fold it back into a `Literal`);
  * semantically a literal, so it canonicalizes to one — exchange reuse and
  * distribution checks compare it equal to the constant it replaced.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override lazy val canonicalized: Expression = Literal(value, dataType)
  // plans print exactly as before the constant was bound
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule that turns non-null, non-NaN `LongType`/`DoubleType`
  * literals into [[Param]]s, leaving alone the places Spark needs a real
  * `Literal`:
  *
  *  - leaf scans: their pushed and partition filters are translated from
  *    literals to source filters;
  *  - `WindowExec`: frame bounds must stay literals;
  *  - NaN constants: `Literal` codegen emits `Double.NaN` whatever the
  *    payload, a bound NaN would keep its exact bits — left as literals,
  *    every NaN behaves as before (payload NaNs such as StaleNaN come
  *    from [[BitsToDouble]], never from a double literal);
  *  - arguments of nondeterministic expressions (a `rand` seed), and any
  *    argument whose expression rejects a non-foldable input (the
  *    `percentile` fraction).
  *
  * Registered as a query-stage preparation rule (see `GraftSession`), so
  * it runs on every adaptive plan after `EnsureRequirements` and before
  * stages are collapsed into generated code.
  */
object BindParams extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p: LeafExecNode => p
    case p: WindowExec => p
    case p => p.transformExpressionsUp { case e => bind(e) }
  }

  private def bindable(e: Expression): Boolean = e match {
    case Literal(_: Long, LongType) => true
    case Literal(d: Double, DoubleType) => !d.isNaN
    case _ => false
  }

  private def bind(e: Expression): Expression = e match {
    case _: Nondeterministic => e
    case _ if !e.children.exists(bindable) => e
    case _ =>
      val bound = e.withNewChildren(e.children.map {
        case l: Literal if bindable(l) => Param(l.value, l.dataType)
        case c => c
      })
      if (bound.checkInputDataTypes().isSuccess) bound else e
  }
}
