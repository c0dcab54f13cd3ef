package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-scoped bridge for graft's hand-built Catalyst trees: turning a
  * [[LogicalPlan]] back into a user-facing DataFrame (`Dataset.ofRows`)
  * and an [[Expression]] into a `Column` and back
  * (`classic.ExpressionUtils`) are `private[sql]`, so each needs one
  * forwarder inside the `org.apache.spark.sql` package — the standard
  * technique Spark extension libraries use (Delta, Sedona, Iceberg all
  * ship such a shim). `graft.functions.Native` and
  * `graft.operators.BloomJoin` build their expressions through the two
  * column forwarders; nothing else in graft lives outside the `graft`
  * package. */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
