package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and Catalyst Expressions for
  * registering custom codegen expressions. Spark 4 made the converters
  * `private[sql]` (Column is backed by ColumnNodes since the Connect
  * unification), so the accessor must live under the `org.apache.spark.sql`
  * package — the standard pattern for Catalyst extension libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge between DataFrames and their analysed logical plans, for plans
  * analysed once and re-wrapped per call (`Dataset.ofRows` is
  * `private[sql]`): the same route a columnar library takes to build a
  * Dataset over a plan it assembled itself.
  */
object PlanBridge {
  def analyzed(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** A new DataFrame, with its own QueryExecution, over `plan`. */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** [[ofRows]] over a plan that is resolved and type-checked by
    * construction: it is marked analysed, so the analyzer skips it.
    */
  def ofAnalyzed(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }
}

/** Applies a SparkSessionExtensions' injected functions to an existing
  * session's function registry — lets tests (and late-bound embedders)
  * register the custom SQL functions without rebuilding the session.
  */
object ExtensionsBridge {
  def register(spark: org.apache.spark.sql.SparkSession,
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    ext.registerFunctions(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry): Unit
  }
}

/** A session's unique id (`sessionUUID` is `private[sql]`) — what keeps
  * two sessions' scratch directories apart.
  */
object SessionBridge {
  def id(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
