package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}

/** Bridge into the one private[sql] constructor a custom-LogicalPlan
  * operator needs: wrapping a plan back into a DataFrame. Lives in the
  * org.apache.spark.sql namespace for access, contains no Spark internals
  * beyond this single call. */
object GraftSql {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Column ⇄ Expression bridges (private[sql] in Spark 4's column-node
    * API) so custom Catalyst expressions compose with the Column DSL. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)
}
