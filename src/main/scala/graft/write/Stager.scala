package graft.write

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.{DataFile, PartitionFieldSpec}
import graft.partition.Transforms

/** Stages a DataFrame as parquet under the table's data directory and
  * returns `DataFile` entries with per-file column min/max/null stats —
  * the role Iceberg writers' manifest stats play for the reference's
  * predicate-pushdown scans (`destination_client.py:320-322`).
  *
  * Scale notes:
  *  - the write is Spark's distributed parquet sink (`FileFormatWriter`,
  *    what `df.write.parquet` runs);
  *  - when a partition spec exists, rows are repartitioned by the derived
  *    transform expressions first, so each output file covers a narrow
  *    range of partition values and the per-file stats become an effective
  *    manifest-level pruning index (incl. exact pruning for bucket values,
  *    since hash-repartitioning co-locates equal bucket values);
  *  - stats are never read back from the written data: what the footer
  *    holds comes from the footer ([[FooterStats]]), the rest is folded
  *    per file as the rows are written ([[FileStatsFold]]).
  */
object Stager {

  /** Canonical probe-side encoding matching the stat encoding
    * ([[FooterStats]], [[FileStatsFold]]): epoch-day for dates,
    * epoch-micros for timestamps. Covers
    * both external-type families Spark hands back (java.sql.* and
    * java.time.*). NTZ values are taken as UTC wall-clock — the engine's
    * session builders all pin `spark.sql.session.timeZone=UTC`, which is
    * what makes the build-side `cast(TimestampType)` epoch agree. */
  def canonicalKey(dt: DataType, v: Any): String = dt match {
    case DateType => v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
      case d: java.time.LocalDate => d.toEpochDay.toString
      case i: Int => i.toString
      case other => other.toString
    }
    case TimestampType | TimestampNTZType => v match {
      case t: java.sql.Timestamp => (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
      case i: java.time.Instant =>
        (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
      case l: java.time.LocalDateTime =>
        val i = l.toInstant(java.time.ZoneOffset.UTC)
        (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
      case l: Long => l.toString
      case other => other.toString
    }
    // micros-of-day, matching the parquet footer encoding
    case _: TimeType => v match {
      case t: java.time.LocalTime => (t.toNanoOfDay / 1000L).toString
      case l: Long => l.toString
      case other => other.toString
    }
    case _ => v.toString
  }

  /** Write `df` under `dataDir/<loadId>-<uuid>` and return the staged
    * files with stats. `spec` optionally clusters the write by partition
    * transforms. `bloomColumns` and `sketchColumns` additionally give each
    * file a [[graft.catalog.KeyBloom]] membership filter (point-lookup
    * pruning) and an HLL distinct sketch (CBO NDV), folded as the rows are
    * written. */
  def stage(df: DataFrame, dataDir: Path, loadId: String,
      spec: Seq[PartitionFieldSpec] = Nil,
      clusterBy: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      sketchColumns: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      preshaped: Boolean = false,
      sortBy: Seq[String] = Nil): Seq[DataFile] = {
    val spark = df.sparkSession
    val dest = dataDir.resolve(s"$loadId-${java.util.UUID.randomUUID().toString.take(8)}")
    graft.catalog.GraftTable.recordStaged(dest)

    val schema = df.schema
    // Partitioned writes are VALUE-EXACT (Iceberg fanout-writer layout):
    // each data file holds exactly one partition tuple, achieved by
    // staging through `partitionBy` on reserved derived columns (pulled
    // into directory names, so the data-file schema is untouched). This
    // is what makes a file's derived-column stats single-valued — the
    // contract [[graft.catalog.GraftScan]] needs to map file → partition
    // key for storage-partitioned joins, and it tightens min/max pruning
    // to exact partition pruning. File count per load = distinct tuples
    // in the load (the spec author bounds cardinality — that is what
    // bucket[N]/temporal transforms are for); `maxRecordsPerFile` still
    // caps size within a tuple. No reader parses the directory names, so
    // string values are percent-encoded: ASCII under any file-name
    // encoding.
    val partitionCols: Seq[String] =
      if (spec.isEmpty) Nil
      else spec.map(s => s"__graft_p_${s.name}")
    def withDerived(d: DataFrame): DataFrame =
      spec.zip(partitionCols).foldLeft(d) { case (acc, (s, pc)) =>
        val dt = schema(s.source).dataType
        val e = Transforms.expression(s, dt)
        acc.withColumn(pc, if (dt.isInstanceOf[StringType] &&
          Set("identity", "truncate")(s.transform)) url_encode(e) else e)
      }
    val clustered =
      if (preshaped) withDerived(df)
        // caller already shaped the layout (e.g. zorder within
        // partitions: range keys lead with the partition transforms, so
        // rows arrive per-tuple-contiguous); partitionBy below still
        // splits value-exact dirs WITHOUT reshuffling, preserving the
        // caller's intra-partition order — a zordered table keeps SPJ
        // eligibility
      else if (spec.nonEmpty) {
        val d = withDerived(df).repartition(partitionCols.map(col): _*)
        // a declared sort order composes with partitioning: value-exact
        // dirs are untouched, rows WITHIN each partition tuple sort by
        // the order (partition cols lead so each task's rows stay
        // tuple-contiguous) — parquet row-group stats on the sort
        // columns turn tight without costing a second shuffle
        if (sortBy.nonEmpty)
          d.sortWithinPartitions((partitionCols ++ sortBy).map(col): _*)
        else d
      }
      else if (sortBy.nonEmpty)
        // declared sort order (Iceberg write.sort-order parity): ONE
        // range shuffle so each FILE covers a narrow, near-disjoint
        // range of the sort key — min/max file pruning on the lead
        // column becomes as selective as partitioning without a spec —
        // plus an in-partition sort so row-group/page stats are tight
        df.repartitionByRange(sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else if (clusterBy.nonEmpty)
        // range-cluster by key so each file covers a narrow key range —
        // future merges prune the affected-file set tightly by min/max
        df.repartitionByRange(clusterBy.map(col): _*)
      else df

    // upper-bound file size at scale (the Iceberg writers'
    // write.target-file-size knob): a 1000-executor load must not emit
    // multi-GB files that defeat split planning. Small-file MERGING is
    // AQE's shuffle coalescing + Maintenance.compact, not this bound.
    val fold = FileStatsFold(spark, schema, spec, bloomColumns, sketchColumns)
    val tracker = fold.tracker(dest.toString)
    graft.JobDesc(spark, s"graft.stage:write $loadId") {
      org.apache.spark.sql.classic.GraftSqlShims.writeParquet(clustered,
        dest.toString, partitionCols, maxRecordsPerFile, tracker)
    }

    // a zero-row file (Spark writes one for an empty output) never enters
    // a snapshot: delete it now rather than leave it to vacuum
    val (live, empty) = tracker.files.partition(_._2.rows > 0)
    empty.keys.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    if (live.isEmpty) { graft.catalog.PathIO.deleteQuietly(dest); return Nil }
    FooterStats.collect(live.keys.toSeq.sorted, schema, hadoopConf(spark))
      .map(f => FileStatsFold.complete(f, live(f.path)))
  }

  private def hadoopConf(spark: org.apache.spark.sql.SparkSession) =
    spark.sessionState.newHadoopConf()

  /** Driver-held rows (the pipeline's `_dlt_*` bookkeeping) staged as ONE
    * parquet file in the same per-call layout as [[stage]]
    * (`dataDir/<loadId>-<uuid8>/part-…parquet`), with no Spark job: the
    * file goes through Spark's own parquet writer on this thread, stats
    * fold from its footer ([[FooterStats]]) and, for the bloom columns,
    * from the rows as they are written ([[FileStatsFold]]). `rows` are
    * catalyst rows in `schema`'s layout; the table must be unpartitioned
    * (one file cannot keep the value-exact layout). */
  def stageRows(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow], schema: StructType,
      dataDir: Path, loadId: String, bloomColumns: Seq[String] = Nil): Seq[DataFile] = {
    if (rows.isEmpty) return Nil
    val dest = dataDir.resolve(s"$loadId-${java.util.UUID.randomUUID().toString.take(8)}")
    graft.catalog.GraftTable.recordStaged(dest)
    val acc = FileStatsFold(spark, schema, bloomColumns = bloomColumns).open()
    val file = org.apache.spark.sql.classic.GraftSqlShims.writeParquetFile(spark,
      dest.toString, schema, rows.iterator.map { r => acc.add(r); r })
    FooterStats.collect(Seq(file), schema, hadoopConf(spark))
      .map(FileStatsFold.complete(_, acc.result))
  }
}
