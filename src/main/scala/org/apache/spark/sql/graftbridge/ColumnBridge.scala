package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression↔Column bridge. Spark 4 moved this conversion into
  * `sql.classic.ExpressionUtils`, which is `private[sql]` — the same
  * mechanism `org.apache.spark.sql.functions` uses internally. This
  * one-file shim lives inside the `org.apache.spark.sql` namespace to
  * re-export exactly those two conversions, and [[PlanBridge]]'s one
  * plan → DataFrame call, to the engine; nothing else from the private
  * API surface is exposed.
  */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}

/** Logical plan → DataFrame, for the engine's own logical nodes
  * (`classic.Dataset.ofRows` is `private[sql]` too). */
object PlanBridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
