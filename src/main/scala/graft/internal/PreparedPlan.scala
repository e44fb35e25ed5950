package graft.internal

import graft.functions.expressions.ParamSlot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.PlanBridge

/** A table leaf of a [[PreparedPlan]]: the table's columns, and no rows
  * until a run puts that run's read of the table in its place. It never
  * reaches the optimizer.
  */
private[graft] final case class TableSlot(name: String, output: Seq[Attribute]) extends LeafNode

/** A plan analysed once and run many times over fresh reads and new
  * values. It is the analysed plan of a DataFrame built over
  * [[TableSlot]] leaves with [[ParamSlot]] parameters. [[bind]] puts
  * each run's table reads in place of the leaves and its values in place
  * of the parameters, and wraps the result as a new DataFrame. The
  * bound plan is marked analysed: it was analysed when prepared, and
  * binding only swaps leaves for reads with the same columns and slots
  * for values of their types. A run pays the optimizer and the planner,
  * but no analysis and none of the encoder resolution of the DataFrame
  * calls that built the plan.
  *
  * A bound plan is a new logical plan with fresh file listings, so it
  * never re-executes a physical plan (whose AQE stages and reused
  * exchanges would serve an earlier run's rows). A table read is swapped
  * in for a leaf of a different class, never for an equal-looking
  * relation: an `InMemoryFileIndex` compares equal on its root paths
  * alone, so a transform that replaced the previous run's relation over
  * the same snapshot directory would be dropped as a no-op, and rows
  * appended to that snapshot since would go unseen.
  */
private[graft] final class PreparedPlan private (plan: LogicalPlan) {

  /** This run's plan: `tables` (a read per leaf, with the columns the
    * plan was prepared over) in place of the leaves, `params` in place
    * of the parameter slots.
    */
  def bind(s: SparkSession, tables: Map[String, DataFrame], params: Map[String, Any]): DataFrame =
    PlanBridge.ofAnalyzed(s, ParamSlot.bind(plan.transformUp {
      case TableSlot(name, output) => PreparedPlan.rebase(PlanBridge.analyzed(tables(name)), output)
    }, params))
}

private[graft] object PreparedPlan {

  /** Prepare `build` over a leaf per table of `tables`, with each
    * table's columns; only their schemas are read.
    */
  def apply(s: SparkSession, tables: Map[String, DataFrame])(
      build: Map[String, DataFrame] => DataFrame): PreparedPlan = {
    val leaves = tables.map { case (name, df) =>
      name -> PlanBridge.ofRows(s, TableSlot(name, PlanBridge.analyzed(df).output.map(_.newInstance())))
    }
    new PreparedPlan(PlanBridge.analyzed(build(leaves)))
  }

  /** `read` producing the leaf's attributes: a file relation takes them
    * over, anything else is projected onto them.
    */
  private def rebase(read: LogicalPlan, output: Seq[Attribute]): LogicalPlan = {
    require(read.output.map(a => (a.name, a.dataType, a.nullable)) ==
      output.map(a => (a.name, a.dataType, a.nullable)),
      s"a table read with columns ${read.schema.simpleString} does not fit its prepared leaf")
    read match {
      case r: LogicalRelation =>
        r.copy(output = r.output.zip(output).map { case (a, o) => a.withExprId(o.exprId) })
      case other =>
        Project(other.output.zip(output).map { case (a, o) => Alias(a, o.name)(exprId = o.exprId) }, other)
    }
  }
}
