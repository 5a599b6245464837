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

  /** `sql` parsed by the session's parser, unresolved: what `spark.sql`
    * runs, for a caller that reads the plan's relations first. */
  def parse(spark: org.apache.spark.sql.SparkSession, sql: String):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[SparkSession].sessionState.sqlParser.parsePlan(sql)

  /** DataFrame over a logical plan, analyzed here (Dataset.ofRows is
    * private[sql]) — lets an injected command execute a rewritten
    * write's query through the engine's DataFrame-based write path, and
    * a [[parse]]d query run without a second parse. */
  def dfOf(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Spark's parquet source writing timestamps as int64
    * TIMESTAMP_MICROS: Spark's default encoding is INT96, which the Iceberg
    * spec forbids and which carries no footer min/max. Each write clones
    * the session's SQL conf for its own settings, so the session's conf is
    * never changed and concurrent writes on one session cannot disturb
    * each other. */
  final class MicrosParquetFormat
      extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
    override def prepareWrite(spark: org.apache.spark.sql.SparkSession,
        job: org.apache.hadoop.mapreduce.Job, options: Map[String, String],
        dataSchema: org.apache.spark.sql.types.StructType):
        org.apache.spark.sql.execution.datasources.OutputWriterFactory = {
      import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
      val sqlConf = getSqlConf(spark).clone()
      sqlConf.setConfString(
        org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        "TIMESTAMP_MICROS")
      ParquetUtils.prepareWrite(sqlConf, job, dataSchema,
        new ParquetOptions(options, sqlConf))
    }
  }

  /** Write `df` as parquet under `dir` through Spark's own file sink
    * (`FileFormatWriter`, the job `df.write.parquet` runs) with
    * [[MicrosParquetFormat]], `partitionBy` over `partitionColumns`, the
    * session's commit protocol, and `tracker` folding each file's rows as
    * they are written. Runs under its own SQL execution id. */
  def writeParquet(df: org.apache.spark.sql.DataFrame, dir: String,
      partitionColumns: Seq[String], maxRecordsPerFile: Long,
      tracker: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker): Unit = {
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val ds = df.asInstanceOf[Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val options =
      if (maxRecordsPerFile > 0) Map("maxRecordsPerFile" -> maxRecordsPerFile.toString)
      else Map.empty[String, String]
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe) {
      val plan = qe.executedPlan
      FileFormatWriter.write(spark, plan, new MicrosParquetFormat,
        org.apache.spark.internal.io.FileCommitProtocol.instantiate(
          spark.sessionState.conf.fileCommitProtocolClass,
          java.util.UUID.randomUUID().toString, dir),
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output),
        spark.sessionState.newHadoopConfWithOptions(options),
        partitionColumns.map(n => plan.output.find(_.name == n).get),
        None, Seq(tracker), options)
    }
  }

  /** Write `rows` as ONE parquet file in `dir` on the calling thread,
    * through the writer a `FileFormatWriter` task runs
    * ([[MicrosParquetFormat]]'s `prepareWrite` and its `ParquetOutputWriter`,
    * so `ParquetWriteSupport` builds the schema and footer) and named as
    * such a task names its output (`part-00000-<uuid>-c000<ext>`): no Spark
    * job, no Catalyst plan. Returns the file's path. */
  def writeParquetFile(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): String = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.asInstanceOf[SparkSession].sessionState.newHadoopConf())
    val factory = new MicrosParquetFormat().prepareWrite(spark, job, Map.empty, schema)
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
