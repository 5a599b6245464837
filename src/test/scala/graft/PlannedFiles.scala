package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The data files the physical V2 scans of a DataFrame plan, as decoded
  * POSIX paths. `Dataset.inputFiles` is blind to V2 scans, and every
  * graft table read — SQL catalog and DataFrame facade alike — plans as
  * one. */
object PlannedFiles {
  def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  def of(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec =>
      b.inputPartitions.flatMap {
        case fp: FilePartition => fp.files.map(f => norm(f.urlEncodedPath))
        case other => throw new AssertionError(s"unexpected input partition $other")
      }
    }.flatten.toSet
}
