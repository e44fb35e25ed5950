package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
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
