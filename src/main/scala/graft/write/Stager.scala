package graft.write

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.{ColumnStats, DataFile, PartitionFieldSpec}
import graft.partition.Transforms
import scala.jdk.CollectionConverters._

/** Stages a DataFrame as parquet under the table's data directory and
  * returns `DataFile` entries with per-file column min/max/null stats —
  * the role Iceberg writers' manifest stats play for the reference's
  * predicate-pushdown scans (`destination_client.py:320-322`).
  *
  * Scale notes:
  *  - the write is a plain distributed `df.write.parquet`;
  *  - when a partition spec exists, rows are repartitioned by the derived
  *    transform expressions first, so each output file covers a narrow
  *    range of partition values and the per-file stats become an effective
  *    manifest-level pruning index (incl. exact pruning for bucket values,
  *    since hash-repartitioning co-locates equal bucket values);
  *  - stats are computed in ONE distributed pass over the freshly written
  *    files (`groupBy(input_file_name())`), output is metadata-sized.
  */
object Stager {

  /** Spark's default parquet timestamp encoding is INT96, which (a) is
    * the one physical type the Iceberg spec forbids and (b) carries NO
    * footer min/max — an engine-written timestamp column would be
    * invisible to footer-stat pruning and to range claiming. Every
    * staged write therefore runs under int64 TIMESTAMP_MICROS.
    *
    * The conf is SESSION-global, and staged writes can legitimately
    * overlap on one session (the streaming loader's sigs ∥ bands
    * writes; concurrent table loads), so a naive save/restore races: an
    * interleaved restore reverts a sibling staged write to INT96 and
    * silently drops the footer stats it relies on. Reference-count the
    * flip PER SESSION instead — the first staged write on a session
    * flips and remembers the caller's value, overlapping staged writes
    * share the flipped state, and the last one out restores. A user's
    * own concurrent non-staged write on the same session can still
    * observe the flipped value for the duration (a session conf cannot
    * be thread-confined); that window now only ever shows MICROS, never
    * a mid-stage revert to INT96. */
  private val TsKey = "spark.sql.parquet.outputTimestampType"
  private val tsFlips = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession, (Int, Option[String])]()

  private def withMicrosTimestamps[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    tsFlips.compute(spark, (_, v) =>
      if (v == null) {
        val prev = spark.conf.getOption(TsKey)
        spark.conf.set(TsKey, "TIMESTAMP_MICROS")
        (1, prev)
      } else (v._1 + 1, v._2))
    try body
    finally tsFlips.compute(spark, (_, v) =>
      if (v._1 == 1) {
        v._2.fold(spark.conf.unset(TsKey))(spark.conf.set(TsKey, _))
        null // removes the entry — no session retention
      } else (v._1 - 1, v._2))
  }

  /** Order-preserving typed expression for a stat column: temporal types
    * as epoch longs, everything else as-is. Aggregated with typed min/max
    * and cast to the canonical string AFTER aggregation — casting before
    * would make min/max lexicographic (min of {9, 10} would be "10") and
    * silently corrupt pruning in `StatsPrune`. */
  def statColumn(c: Column, dt: DataType): Option[Column] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | _: DecimalType | StringType =>
      Some(c)
    case DateType => Some(datediff(c, lit("1970-01-01")))
    case TimestampType | TimestampNTZType => Some(unix_micros(c.cast(TimestampType)))
    // TIME encodes as micros-of-day — the SAME encoding the parquet
    // footer stats carry (FooterStats decodes the Time logical
    // annotation to micros), so both stat sources agree. EXTRACT(SECOND)
    // keeps the fractional part (a bare TIME→BIGINT cast floors to
    // seconds).
    case _: TimeType => Some(
      hour(c).cast(LongType) * lit(3600000000L) +
        minute(c).cast(LongType) * lit(60000000L) +
        (date_part(lit("SECOND"), c) * lit(1000000)).cast(LongType))
    case _ => None // binary/bool/nested: no stats
  }

  /** Canonical probe-side encoding matching [[statColumn]]'s stat
    * encoding: epoch-day for dates, epoch-micros for timestamps. Covers
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
    // micros-of-day, matching statColumn and the parquet footer encoding
    case _: TimeType => v match {
      case t: java.time.LocalTime => (t.toNanoOfDay / 1000L).toString
      case l: Long => l.toString
      case other => other.toString
    }
    case _ => v.toString
  }

  /** Write `df` under `dataDir/<loadId>-<uuid>` and return the staged
    * files with stats. `spec` optionally clusters the write by partition
    * transforms. `bloomColumns` additionally builds per-file [[KeyBloom]]
    * membership filters for point-lookup pruning (one narrow
    * column-pruned scan of the staged files). */
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
    // caps size within a tuple.
    val partitionCols: Seq[String] =
      if (spec.isEmpty) Nil
      else spec.map(s => s"__graft_p_${s.name}")
    def withDerived(d: DataFrame): DataFrame =
      spec.zip(partitionCols).foldLeft(d) { case (acc, (s, pc)) =>
        acc.withColumn(pc, Transforms.expression(s, schema(s.source).dataType))
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
    val writerBase =
      if (maxRecordsPerFile > 0)
        clustered.write.option("maxRecordsPerFile", maxRecordsPerFile)
      else clustered.write
    val writer =
      if (partitionCols.nonEmpty) writerBase.partitionBy(partitionCols: _*)
      else writerBase
    graft.JobDesc(spark, s"graft.stage:write $loadId") {
      withMicrosTimestamps(spark) { writer.parquet(dest.toString) }
    }

    val files = graft.catalog.PathIO.walk(dest)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).sorted
    if (files.isEmpty) { graft.catalog.PathIO.deleteQuietly(dest); return Nil }

    // Unpartitioned tables: stats fold straight out of the just-written
    // parquet footers (driver-side, no data re-read). Partitioned tables
    // additionally need stats over DERIVED transform values, which only a
    // scan can provide.
    val base =
      if (spec.isEmpty) FooterStats.collect(files, schema)
      else derivedStatsFromPaths(files, schema, spec) match {
        // value-exact layout: every file's derived partition values are
        // IN its directory name (partitionBy wrote them), so the stats
        // the second scan existed to compute fold from the path plus the
        // parquet footers — zero data re-read, one Spark job less per
        // partitioned commit (trickle ingest pays this on every batch)
        case Some(derived) =>
          FooterStats.collect(files, schema).map { f =>
            f.copy(stats = f.stats ++ derived(f.path))
          }
        // undecodable dir value (null/empty partition, exotic derived
        // type): the scan remains the exact fallback
        case None => graft.JobDesc(spark, s"graft.stage:stats $loadId") {
          collectStats(spark, files, schema, spec)
        }
      }
    // a zero-row file (Spark writes one for an empty output) never enters
    // a snapshot: delete it now rather than leave it to vacuum
    val live = base.map(_.path)
    files.filterNot(live.toSet).foreach { f =>
      val p = java.nio.file.Paths.get(f)
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    if (live.isEmpty) { graft.catalog.PathIO.deleteQuietly(dest); return Nil }
    val present = bloomColumns.filter(c => schema.fieldNames.contains(c) &&
      graft.catalog.KeyBloom.supportsBloom(schema(c).dataType))
    val withBlooms = if (present.isEmpty) base
    else {
      val blooms = graft.JobDesc(spark, s"graft.stage:bloom $loadId") {
        collectBlooms(spark, live, schema, present)
      }
      base.map { f =>
        blooms.get(f.path).fold(f) { byCol =>
          f.copy(stats = byCol.foldLeft(f.stats) { case (st, (c, b64)) =>
            st.updated(c, st.getOrElse(c, ColumnStats(None, None, None))
              .copy(bloom = Some(b64)))
          })
        }
      }
    }
    val skPresent = sketchColumns.filter(c => schema.fieldNames.contains(c) &&
      supportsSketch(schema(c).dataType))
    if (skPresent.isEmpty) withBlooms
    else {
      val sketches = graft.JobDesc(spark, s"graft.stage:sketch $loadId") {
        collectSketches(spark, live, schema, skPresent)
      }
      withBlooms.map { f =>
        sketches.get(f.path).fold(f) { byCol =>
          f.copy(stats = byCol.foldLeft(f.stats) { case (st, (c, b64)) =>
            st.updated(c, st.getOrElse(c, ColumnStats(None, None, None))
              .copy(hll = Some(b64)))
          })
        }
      }
    }
  }

  /** Driver-held rows (the pipeline's `_dlt_*` bookkeeping) staged as ONE
    * parquet file in the same per-call layout as [[stage]]
    * (`dataDir/<loadId>-<uuid8>/part-…parquet`), with no Spark job: the
    * file goes through Spark's own parquet writer on this thread (int64
    * TIMESTAMP_MICROS set for this write only), stats fold from its footer
    * ([[FooterStats]]) and each bloom column's [[KeyBloom]] is built from
    * the rows with the driver mirror the probe side hashes with. `rows`
    * are catalyst rows in `schema`'s layout; the table must be
    * unpartitioned (one file cannot keep the value-exact layout). */
  def stageRows(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow], schema: StructType,
      dataDir: Path, loadId: String, bloomColumns: Seq[String] = Nil): Seq[DataFile] = {
    if (rows.isEmpty) return Nil
    val dest = dataDir.resolve(s"$loadId-${java.util.UUID.randomUUID().toString.take(8)}")
    val file = org.apache.spark.sql.classic.GraftSqlShims.writeParquetFile(spark,
      dest.toString, schema, rows.iterator, Map(TsKey -> "TIMESTAMP_MICROS"))
    FooterStats.collect(Seq(file), schema).map { f =>
      f.copy(stats = bloomColumns.filter(c => schema.fieldNames.contains(c) &&
          graft.catalog.KeyBloom.supportsBloom(schema(c).dataType))
        .foldLeft(f.stats) { (st, c) =>
          val i = schema.fieldIndex(c)
          val dt = schema(c).dataType
          val bloom = graft.catalog.KeyBloom.build(rows.iterator
            .filterNot(_.isNullAt(i)).map(r => canonicalKey(dt, r.get(i, dt))).toSeq)
          st.updated(c, st.getOrElse(c, ColumnStats(None, None, None))
            .copy(bloom = Some(bloom)))
        })
    }
  }

  /** Types Spark's `hll_sketch_agg` accepts. */
  def supportsSketch(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.StringType |
          org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }

  /** One column-pruned pass computing a per-file DataSketches HLL
    * distinct sketch for each sketch column (Iceberg-Puffin parity):
    * sketches are KBs per file and MERGEABLE, so the read side serves a
    * fresh table-wide NDV by unioning whatever file set is live —
    * appends, whole-file deletes, and compaction all keep the estimate
    * correct with zero data re-reads, where property-stored ANALYZE
    * numbers go stale on the first append. */
  def collectSketches(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], schema: StructType,
      columns: Seq[String]): Map[String, Map[String, String]] = {
    val aggs = columns.map(c =>
      base64(hll_sketch_agg(col(c))).as(s"__sk__$c"))
    val rows = spark.read.schema(schema).parquet(files: _*)
      .select(columns.map(col): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per staged file: metadata-scale
    rows.map { r =>
      val byCol = columns.flatMap { c =>
        Option(r.getAs[String](s"__sk__$c")).map(c -> _)
      }.toMap
      normalizeFileUri(r.getAs[String]("__file")) -> byCol
    }.toMap
  }

  /** One column-pruned pass computing a per-file [[KeyBloom]] for each
    * bloom column: rows contribute bit masks, `bit_or` folds them into
    * the filter words (map-side combinable; output is metadata-sized). */
  def collectBlooms(spark: org.apache.spark.sql.SparkSession, files: Seq[String],
      schema: StructType, columns: Seq[String]): Map[String, Map[String, String]] = {
    val base = spark.read.schema(schema).parquet(files: _*)
      .select(columns.map(col): _*)
    val withPos = columns.foldLeft(
      base.withColumn("__file", input_file_name()))(
      (d, c) => graft.catalog.KeyBloom.withPositionColumns(d, c, schema(c).dataType))
    val aggs = columns.flatMap(c =>
      graft.catalog.KeyBloom.aggColumns(c, s"__bloom__${c}__"))
    val rows = withPos.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*)
      .collect() // one row per staged file: metadata-scale
    rows.map { r =>
      val byCol = columns.map { c =>
        val words = (0 until graft.catalog.KeyBloom.NumLongs).map { j =>
          val v = r.getAs[Any](s"__bloom__${c}__$j")
          if (v == null) 0L else v.asInstanceOf[Long]
        }
        c -> graft.catalog.KeyBloom.encode(words)
      }.toMap
      normalizeFileUri(r.getAs[String]("__file")) -> byCol
    }.toMap
  }

  /** Derived-column stats recovered from the value-exact directory layout
    * instead of a second scan: `partitionBy` wrote each staged file under
    * `__graft_p_<name>=<value>` segments, so the derived transform value —
    * which is single-valued per file BY CONSTRUCTION of the layout — is in
    * the path. Decodes only where the mapping to [[statColumn]]'s canonical
    * string is exact and total (int/long/string-typed transforms verbatim;
    * DATE re-encoded as epoch days); anything else — a null/empty partition
    * value (Hive default-partition marker is ambiguous between the two),
    * float/decimal/timestamp identity partitioning — returns None and the
    * caller falls back to the scanning pass. Min = max = the value and
    * nullCount = 0, exactly what [[collectStats]] computes for a
    * value-exact file, so SPJ key recovery and DPP see identical stats. */
  private[write] def derivedStatsFromPaths(files: Seq[String],
      schema: StructType, spec: Seq[PartitionFieldSpec]):
      Option[Map[String, Map[String, ColumnStats]]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val derivedType: Map[String, Option[DataType]] = spec.map { s =>
      val srcType = schema(s.source).dataType
      s.name -> (s.transform match {
        case "identity" => srcType match {
          case IntegerType | LongType | StringType | DateType => Some(srcType)
          case _ => None
        }
        case "year" => Some(IntegerType)
        case "month" | "hour" => Some(StringType)
        case "day" => Some(DateType)
        case "bucket" => Some(IntegerType)
        case "truncate" => srcType match {
          case StringType | IntegerType | LongType => Some(srcType)
          case _ => None // decimal/binary truncate: fall back to the scan
        }
        case _ => None
      })
    }.toMap
    if (derivedType.values.exists(_.isEmpty)) return None
    val seg = raw"__graft_p_([^/=]+)=([^/]*)".r
    val out = files.map { f =>
      val byName = seg.findAllMatchIn(f).map(m =>
        m.group(1) -> ExternalCatalogUtils.unescapePathName(m.group(2))).toMap
      val stats = spec.map { s =>
        byName.get(s.name) match {
          case Some(v) if v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME
              && v.nonEmpty =>
            val canon = derivedType(s.name).get match {
              case DateType =>
                try java.time.LocalDate.parse(v).toEpochDay.toString
                catch { case _: java.time.format.DateTimeParseException =>
                  return None }
              case IntegerType | LongType =>
                // must be a plain integer literal, or bail to the scan
                if (v.matches("-?\\d+")) v else return None
              case _ => v // string transforms carry verbatim
            }
            s.name -> ColumnStats(Some(canon), Some(canon), Some(0L))
          case _ => return None // null/empty/missing: scan decides
        }
      }.toMap
      f -> stats
    }.toMap
    Some(out)
  }

  /** One distributed pass computing per-file rowCount + per-column
    * min/max/nullCount, including derived partition-transform values. */
  def collectStats(spark: org.apache.spark.sql.SparkSession, files: Seq[String],
      schema: StructType, spec: Seq[PartitionFieldSpec]): Seq[DataFile] = {
    val base = spark.read.schema(schema).parquet(files: _*)
    val withDerived = spec.foldLeft(base) { (d, s) =>
      d.withColumn(s.name, Transforms.expression(s, schema(s.source).dataType))
    }
    val fullSchema = withDerived.schema

    val statAggs: Seq[(String, Seq[Column])] = fullSchema.fields.toSeq.flatMap { f =>
      statColumn(col(f.name), f.dataType).map { sc =>
        f.name -> Seq(
          min(sc).cast(StringType).as(s"min__${f.name}"),
          max(sc).cast(StringType).as(s"max__${f.name}"),
          sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls__${f.name}"))
      }
    }
    val aggCols = count(lit(1)).as("__rows") +: statAggs.flatMap(_._2)
    val rows = withDerived
      .groupBy(input_file_name().as("__file"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect() // one row per staged file: metadata-scale

    val byFile = rows.map { r =>
      val stats = statAggs.map { case (name, _) =>
        name -> ColumnStats(
          Option(r.getAs[String](s"min__$name")),
          Option(r.getAs[String](s"max__$name")),
          Option(r.getAs[Long](s"nulls__$name")))
      }.toMap
      normalizeFileUri(r.getAs[String]("__file")) ->
        (r.getAs[Long]("__rows"), stats)
    }.toMap

    files.flatMap { f =>
      // a file absent from the agg output contains 0 rows (e.g. an
      // anti-join that removed everything) — drop it from the snapshot
      byFile.get(f).orElse(byFile.get(normalizeFileUri(f))).collect {
        case (rowCount, stats) if rowCount > 0 =>
          DataFile(f, rowCount,
            java.nio.file.Files.size(java.nio.file.Paths.get(f)), stats)
      }
    }
  }

  /** `input_file_name()` returns a URL-encoded `file:` URI while the
    * staging walk yields literal filesystem paths. With `partitionBy`
    * layouts the path embeds data-derived values (spaces, unicode, Hive
    * `%XX` escapes), so scheme-stripping alone mismatches and a file
    * would be treated as 0-row — i.e. silently dropped from the
    * snapshot. Decode through `URI.getPath`; a literal path that is not
    * URI-parseable (e.g. contains a raw space) is already canonical. */
  private def normalizeFileUri(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null && u.getPath != null) u.getPath else p
    } catch {
      case _: java.net.URISyntaxException =>
        p.stripPrefix("file://").stripPrefix("file:")
    }
}
