package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
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
