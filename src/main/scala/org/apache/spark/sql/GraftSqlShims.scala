package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Package-scoped bridge for graft's hand-built Catalyst trees: turning a
  * [[LogicalPlan]] back into a user-facing DataFrame (`Dataset.ofRows`)
  * and an [[Expression]] into a `Column` and back
  * (`classic.ExpressionUtils`) are `private[sql]`, so each needs one
  * forwarder inside the `org.apache.spark.sql` package — the standard
  * technique Spark extension libraries use (Delta, Sedona, Iceberg all
  * ship such a shim). `graft.functions.Native` and
  * `graft.operators.BloomJoin` build their expressions through the two
  * column forwarders, `graft.geo.ConnectedComponents` wraps its
  * row-level passes with [[ofInternalRows]], and `CurationPipeline`
  * corrects its per-document checkpoints' statistics with
  * [[withStatsOf]]; nothing else in graft lives outside the `graft`
  * package. */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over `rdd`, whose rows must already have `schema`'s
    * layout, reporting its known `rowCount` (and the size it implies) as
    * plan statistics — so a join against a small result plans as a
    * broadcast without waiting for a runtime shuffle. The frame's plan is
    * one `LogicalRDD` leaf, so `graft.util.Checkpoints` finds `rdd` when
    * it is a checkpoint. */
  def ofInternalRows(spark: SparkSession, rdd: RDD[InternalRow],
                     schema: StructType, rowCount: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(sizeInBytes = BigInt(rowCount) * (8 + schema.defaultSize),
      rowCount = Some(BigInt(rowCount)))
    classic.Dataset.ofRows(s, LogicalRDD(attrs, rdd)(s, Some(stats)))
  }

  /** `checkpoint` (a frame whose plan is one `LogicalRDD` leaf, as
    * `localCheckpoint` returns) reporting `like`'s plan statistics. Meant
    * for the checkpoint of a row-preserving transform of `like`, such as
    * a left join that only adds columns: the planner estimates an outer
    * join as the product of its inputs' sizes, and every plan over the
    * checkpoint would inherit that estimate and shuffle where a broadcast
    * would do. */
  def withStatsOf(checkpoint: DataFrame, like: DataFrame): DataFrame = {
    val s = checkpoint.sparkSession.asInstanceOf[classic.SparkSession]
    val lr = checkpoint.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(s, LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
      lr.outputOrdering, lr.isStreaming)(s, Some(like.queryExecution.optimizedPlan.stats)))
  }
}
