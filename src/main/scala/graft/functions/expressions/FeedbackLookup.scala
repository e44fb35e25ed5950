package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, ObjectType}
import org.apache.spark.unsafe.types.UTF8String

/** A memory's feedback score, looked up by id in a broadcast driver
  * table (`memory id → score`); null for a memory with no feedback.
  *
  * The retrieve's feedback blend once joined each scored row with the
  * per-memory summary. A join with a broadcast frame runs a job to build
  * its side on every call, and a `Map` literal read with `element_at`
  * scans the map per row; this kernel is one hash probe per row against
  * a table the driver built once per state of the feedback log (the
  * [[TopCellsF32]] pattern: a broadcast handle, fetched once per
  * executor). The table is a child expression, not a field, so a
  * prepared plan binds each call's table like any other value
  * ([[ParamSlot]]); the generated code reads it from `references[]`
  * and stays the same for every table.
  */
case class FeedbackLookup(id: Expression, table: Expression) extends BinaryExpression {
  override def left: Expression = id
  override def right: Expression = table
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "feedback_lookup"

  override def eval(input: InternalRow): Any = {
    val key = id.eval(input)
    if (key == null) null
    else FeedbackLookup.scores(table.eval(input)).get(key)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = id.genCode(ctx)
    val t = table.genCode(ctx)
    val score = ctx.freshName("score")
    ev.copy(code = code"""
      ${k.code}
      ${t.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${k.isNull}) {
        Object $score = ((java.util.Map) ((${classOf[Broadcast[_]].getName}) ${t.value}).value())
          .get(${k.value});
        if ($score != null) {
          ${ev.isNull} = false;
          ${ev.value} = ((java.lang.Double) $score).doubleValue();
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(id = newLeft, table = newRight)
}

object FeedbackLookup {
  /** A score table: memory id (as Spark's string) → feedback score. */
  type Table = Broadcast[java.util.HashMap[UTF8String, java.lang.Double]]

  /** The Catalyst type of a [[Table]] handle (a [[ParamSlot]]'s type). */
  val TableType: DataType = ObjectType(classOf[Broadcast[_]])

  private def scores(handle: Any): java.util.Map[_, _] =
    handle.asInstanceOf[Broadcast[java.util.Map[_, _]]].value

  /** `id`'s score in the table `table` evaluates to. */
  def of(id: Column, table: Column): Column =
    ColumnBridge.column(FeedbackLookup(ColumnBridge.expression(id), ColumnBridge.expression(table)))

  /** `id`'s score in `table`, bound into the plan by reference. */
  def of(id: Column, table: Table): Column =
    of(id, ColumnBridge.column(BoundParam(table, TableType)))
}
