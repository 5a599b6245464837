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

  /** Write `rows` as ONE parquet file in `dir` on the calling thread,
    * through the writer a `FileFormatWriter` task runs
    * (`ParquetUtils.prepareWrite` + its `ParquetOutputWriter`, so
    * `ParquetWriteSupport` builds the schema and footer) and named as such
    * a task names its output (`part-00000-<uuid>-c000<ext>`): no Spark
    * job, no Catalyst plan. `conf` overrides session SQL confs for this
    * write only — a copy of the session's conf is changed, never the
    * session's. Returns the file's path. */
  def writeParquetFile(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      conf: Map[String, String]): String = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val session = spark.asInstanceOf[SparkSession].sessionState
    val sqlConf = session.conf.clone()
    conf.foreach { case (k, v) => sqlConf.setConfString(k, v) }
    val job = org.apache.hadoop.mapreduce.Job.getInstance(session.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val path = s"$dir/part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(ctx)
    val w = factory.newInstance(path, schema, ctx)
    try rows.foreach(w.write) finally w.close()
    path
  }

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
