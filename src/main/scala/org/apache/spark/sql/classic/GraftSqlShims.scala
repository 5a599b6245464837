package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal access shim into the classic-session internals (the
  * `private[sql]` boundary): Column-from-Expression, needed to re-apply
  * already-pushed catalyst filters onto a DataFrame-backed fallback scan.
  * The same package-gate pattern every Spark connector (Iceberg, Delta)
  * uses for this conversion. */
object GraftSqlShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst predicate → V1 source filter (`DataSourceStrategy
    * .translateFilter` is protected[sql]); None when it has no source
    * form. */
  def sourceFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** DataFrame over an analyzed logical plan (Dataset.ofRows is
    * private[sql]) — lets an injected command execute a rewritten
    * write's query through the engine's DataFrame-based write path. */
  def dfOf(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Re-tag a batch DataFrame as a streaming one — what a V1 streaming
    * `Source.getBatch` must return (`MicroBatchExecution` asserts
    * `isStreaming`); the same `internalCreateDataFrame(isStreaming =
    * true)` call `FileStreamSource` makes. Lazy: the underlying plan
    * executes when the micro-batch runs. */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }
}
