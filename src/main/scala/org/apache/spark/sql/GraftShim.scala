package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge from custom Catalyst `Expression`s to the public `Column` API.
  * `classic.ExpressionUtils.column` is `private[sql]` in Spark 4, so the
  * accessor lives in the `org.apache.spark.sql` package — the standard
  * pattern for Spark-extension libraries shipping native expressions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `s` with every field, nested ones too, made nullable — what
    * `from_json` forces on its schema (`DataType.asNullable` is
    * `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Build a DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame. */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
