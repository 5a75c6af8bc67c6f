package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to the `private[sql]` constructors a library-level extension
  * genuinely needs and Spark offers no public equivalent for:
  *
  *  - building a `DataFrame` from a custom `LogicalPlan`
  *    (`classic.Dataset.ofRows`) — planner-strategy injection is public
  *    (`SparkSessionExtensions.injectPlannerStrategy`) but plan→frame
  *    is not;
  *  - wrapping a raw Catalyst `Expression` into a `Column` (and back) —
  *    `injectFunction` is public but covers only SQL-name dispatch, not
  *    programmatic construction of expressions like Spark's own
  *    bloom-filter pair, whose build/probe sides take non-SQL-literal
  *    arguments;
  *  - waiting for the listener bus to deliver every posted event
  *    (`LiveListenerBus.waitUntilEmpty`, bounded at 10 s; it throws on
  *    timeout) — the bus is asynchronous and has no public drain.
  *
  * Every library that ships custom operators hosts these one-liners
  * inside the `sql` package. Nothing else in this repo lives outside
  * the `graft` namespace.
  */
object Shim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
