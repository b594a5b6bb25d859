package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one-line bridge a whole-operator extension needs: turning a
  * hand-built [[LogicalPlan]] node back into a [[DataFrame]].
  * `Dataset.ofRows` is `private[sql]`, so this object lives under
  * `org.apache.spark.sql` — the established pattern for Spark
  * extension libraries that add logical operators (the alternative,
  * reflection, trades a compile-time check for a runtime one).
  * Nothing else in the engine lives outside the `graft` namespace,
  * and nothing here touches non-public behavior — it only forwards.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Expression ↔ Column without the function registry
    * (`ExpressionUtils` is `private[sql]`): lets a custom scalar
    * expression be used as a plain `Column => Column` — which
    * survives session clones, unlike `call_function` against a
    * per-session registration (the streaming replay twins run
    * projections on clones).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
