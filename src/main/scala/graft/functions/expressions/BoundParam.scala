package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A per-call value bound into the plan by reference — a literal whose
  * value stays out of the generated Java.
  *
  * Spark writes a primitive `Literal` into the generated source
  * (`subtractExact(1767225780000000L, …)`), so a plan rebuilt with a new
  * timestamp is new source: every whole-stage class compiles again, and
  * the recompiles also evict still-useful classes from Spark's bounded
  * codegen cache. This expression evaluates exactly like the literal,
  * but its codegen reads the value from the generated class's
  * `references[]` — the way Spark already binds array and string
  * literals — so two plans that differ only in the value share one
  * compiled class.
  *
  * It is not foldable: folding would turn it back into a `Literal`. Use
  * it only where the value is projected per row; a value that must reach
  * a data-source filter (Parquet pushdown matches literals only) stays a
  * plain `lit`.
  */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "BoundParam binds a non-null value")

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "bound_param"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ExprCode.forNonNullValue(JavaCode.expression(v, dataType))
  }
}

object BoundParam {
  /** `functions.lit(v)`, bound by reference: same type and value. */
  def of(v: Any): Column = {
    val l = Literal(v)
    ColumnBridge.column(BoundParam(l.value, l.dataType))
  }
}

/** A named parameter of a plan analysed once and run many times
  * ([[graft.internal.PreparedPlan]]): a typed hole that each run fills
  * with its own value, bound by reference as a [[BoundParam]] before the
  * plan reaches the optimizer. It cannot be evaluated, so a slot left
  * unbound fails the run instead of reading a stale value.
  */
case class ParamSlot(name: String, dataType: DataType) extends LeafExpression with Unevaluable {
  override def nullable: Boolean = false
  override def prettyName: String = "param_slot"
}

object ParamSlot {
  /** A slot typed like `functions.lit(sample)`. */
  def like(name: String, sample: Any): Column =
    ColumnBridge.column(ParamSlot(name, Literal(sample).dataType))

  /** A slot of an explicit type (an object handle such as a broadcast). */
  def typed(name: String, dataType: DataType): Column = ColumnBridge.column(ParamSlot(name, dataType))

  /** `plan` with each slot bound to its value in `values`. */
  def bind(plan: LogicalPlan, values: Map[String, Any]): LogicalPlan =
    plan.transformAllExpressions { case ParamSlot(name, dataType) =>
      BoundParam(CatalystTypeConverters.convertToCatalyst(values(name)), dataType)
    }
}
