package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, ExpressionUtils, SparkSession}

/** Bridge into the `private[sql]` Expression <-> Column / LogicalPlan
  * <-> DataFrame converters — the supported extension-point surface for
  * libraries shipping native Catalyst expressions and custom logical
  * operators on Spark 4's split Column API. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (classic session). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** `schema` with every field, nested ones too, nullable — what a
    * file relation reports for its data schema. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The analyzed logical plan of a DataFrame (for plan composition). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.asInstanceOf[Dataset[_]].queryExecution.analyzed

  /** `e` with float and double values normalized as Spark normalizes
    * grouping keys: every NaN to one NaN, -0.0 to 0.0. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Spark's aggregate evaluation on the driver, the evaluator behind
    * `Dataset.observe`: a function that folds one group's rows (over
    * `input`) through `functions`, each an aggregate expression, and
    * returns one row of their results. Declarative, imperative and
    * typed aggregates keep Spark's semantics. Not thread-safe: one
    * caller folds one group at a time. */
  def aggregator(functions: Seq[Expression],
      input: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
        org.apache.spark.sql.catalyst.InternalRow = {
    val acc = org.apache.spark.sql.execution.AggregatingAccumulator(
      functions, input)
    rows => {
      acc.reset()
      rows.foreach(acc.add)
      acc.value.copy()
    }
  }
}
