package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (the classic
  * extension-point pattern for libraries that add native Catalyst
  * expressions). The only other program code outside the `graft`
  * namespace is the pair of `GraftLdaBridge` objects in
  * `org.apache.spark.ml.clustering` and `org.apache.spark.mllib.clustering`
  * (MLlib's online-LDA internals for `graft.ml.Lda`). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (private[sql] Dataset.ofRows —
    * the standard entry point for libraries adding whole-operator nodes). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of Catalyst rows matching `schema` (the
    * private[sql] internalCreateDataFrame), for kernels that compute rows
    * outside Catalyst and hand them back without a Row conversion. */
  def fromInternalRows(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A DataFrame's analyzed logical plan (for composing custom nodes). */
  def analyzedPlan(df: Dataset[_]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Register a native expression into a live session's function registry
    * (the post-build twin of SparkSessionExtensions.injectFunction). */
  def registerFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
