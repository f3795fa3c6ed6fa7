package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark SQL's `private[sql]` surface: `Dataset.ofRows`
  * wraps graft's custom logical nodes (graft.plans) back into a
  * DataFrame, and `column`/`expression` convert between a Column and a
  * Catalyst expression so graft's native expressions (graft.functions)
  * go into a plan directly, with no function-registry lookup;
  * `drainListeners` waits until the listener bus has delivered every
  * posted event, so counts a SparkListener keeps are exact when read.
  * Lives in the Spark SQL package for access; contains no logic.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
