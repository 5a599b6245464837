package graft.catalog

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side shared state between a row-level operation's SCAN and its
  * WRITE: the group-based (copy-on-write) protocol must replace EXACTLY
  * the files the operation scan read — the written rows are the scan's
  * output — so every narrowing the scan performs (static stat/bloom
  * pruning of pushed filters, runtime `_file` group filtering) must reach
  * the commit as the replaced-file set. Both sides run on the driver
  * (scan planning and batch-write commit), so plain shared state is the
  * whole protocol. */
final class GroupScanState(val planned: Seq[DataFile]) {
  /** Current candidate group set: starts as the full planned snapshot,
    * narrowed by [[GroupScanBuilder]] (static pruning) and
    * [[GroupScan.filter]] (runtime group filtering). */
  @volatile var candidates: Seq[DataFile] = planned
  /** The file set the executed scan ACTUALLY planned — the authoritative
    * replace set for the commit. None until the scan planned partitions
    * (a commit without a scan falls back to the full planned set). */
  @volatile var scannedPaths: Option[Set[String]] = None
}

/** Scan builder for the group-based row-level operation: accepts pushed
  * filters (used TWICE — file-level stat/bloom pruning here, parquet
  * row-group skipping in the reader) but reports every filter as
  * residual, so Spark keeps exact evaluation above the scan. */
final class GroupScanBuilder(
    spark: SparkSession,
    meta: TableMetadata,
    tableSchema: StructType,
    state: GroupScanState) extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters
    filters // all residual: pruning here is best-effort, never exact
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    state.candidates = StatsPrune.prune(meta, state.planned, pushed.toSeq)
    new GroupScan(spark, tableSchema, required, state)
  }
}

/** One candidate file per partition (the group granularity of the
  * rewrite); a plain serializable shape so the reader can rebuild the
  * [[PartitionedFile]] AND stamp the verbatim metadata path into the
  * `_file` column without round-tripping through URI encoding. */
final case class GroupFilePartition(index: Int, path: String, size: Long)
  extends InputPartition

/** The group-based operation scan: a native V2 batch over the candidate
  * data files, built on Spark's own parquet reader
  * (`ParquetFileFormat.buildReaderWithPartitionValues`, vectorization
  * off so rows arrive as true `InternalRow`s), appending the `_file`
  * metadata column when requested.
  *
  * [[SupportsRuntimeV2Filtering]] on `_file` is what turns a selective
  * MERGE/UPDATE from an O(table) rewrite into an O(matched-files) one:
  * Spark runs the matching-rows subquery (target ⋈ source / WHERE cond),
  * collects the DISTINCT `_file` values, and hands them to [[filter]] —
  * files provably outside the match set are never scanned, never
  * rewritten, and survive the commit by path. */
final class GroupScan(
    spark: SparkSession,
    tableSchema: StructType,
    required: StructType,
    state: GroupScanState) extends Scan with Batch
  with SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Candidate-set footprint from footer stats, so Spark sizes the
    * MERGE/UPDATE join over this scan instead of assuming Long.MaxValue.
    * Read at logical planning (before runtime `_file` narrowing) — the
    * pre-filter bound is conservative, never under-reported. */
  override def estimateStatistics():
      org.apache.spark.sql.connector.read.Statistics =
    ScanStats.of(state.candidates.map(_.sizeBytes).sum,
      state.candidates.map(_.rowCount).sum)

  private val withFile = required.fieldNames.contains(GroupScan.FileColumn)
  private val dataSchema =
    StructType(required.fields.filterNot(_.name == GroupScan.FileColumn))

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GroupScan.FileColumn))

  /** Runtime group filter delivery: an IN predicate on `_file` narrows
    * the candidate set to the named paths. Anything else is ignored
    * (keeping all candidates is always sound). */
  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      if (p.name() == "IN") {
        val children = p.children()
        val onFile = children.headOption.exists {
          case ref: NamedReference =>
            ref.fieldNames().sameElements(Array(GroupScan.FileColumn))
          case _ => false
        }
        if (onFile) {
          val paths = children.drop(1).collect {
            case l: Literal[_] => String.valueOf(l.value())
          }.toSet
          state.candidates = state.candidates.filter(f => paths.contains(f.path))
        }
      }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = state.candidates
    state.scannedPaths = Some(files.map(_.path).toSet)
    files.zipWithIndex.map { case (f, i) =>
      GroupFilePartition(i, f.path, f.sizeBytes): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // row-based parquet reading via Spark's OWN file format (codegen'd
    // parquet-mr path); vectorization off on a conf-cloned session so
    // the returned iterator yields InternalRows, not columnar batches
    val isolated = spark.newSession()
    isolated.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    // NO filters reach the parquet reader: the write replaces whole
    // files, so every row of a candidate file — matched or carryover —
    // must be read. Parquet row-group pruning on the DML condition would
    // silently DROP carryover rows from partially-matching files (bit us
    // at sf0.1, where files span multiple row groups). Pushed filters
    // prune at FILE granularity only (StatsPrune), which is sound
    // because pruned files are kept by path, not rewritten.
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      isolated.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      dataSchema = tableSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = dataSchema,
      filters = Nil,
      options = Map.empty,
      hadoopConf = isolated.sessionState.newHadoopConf())
    new GroupReaderFactory(readFunc, withFile)
  }
}

object GroupScan {
  /** Iceberg's `_file` metadata column name — the group id of the
    * copy-on-write protocol. */
  val FileColumn = "_file"
}

final class GroupReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    withFile: Boolean) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GroupFilePartition]
    val pf = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(p.path), 0, p.size,
      Array.empty[String], 0L, p.size, Map.empty)
    val inner = readFunc(pf)
    val rows =
      if (!withFile) inner
      else {
        // verbatim metadata path, appended as a constant per partition
        // (JoinedRow reuse is safe: every consumer above copies on
        // buffering, the standard Spark reader contract)
        val fileRow = new GenericInternalRow(
          Array[Any](UTF8String.fromString(p.path)))
        val joined = new JoinedRow
        inner.map(r => joined(r, fileRow))
      }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = null
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = false
}
