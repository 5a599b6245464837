package graft.catalog

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.write.{FileStatsFold, FooterStats}

/** SQL `UPDATE` / `MERGE INTO` through the V2 catalog — the group-based
  * (copy-on-write) row-level operation protocol. Spark rewrites the DML
  * into a [[org.apache.spark.sql.connector.read.Scan]] of the table's
  * pinned snapshot followed by a `ReplaceData` write of the post-DML row
  * set; this class supplies the executor-side write: each task streams
  * its partition into ONE staged parquet file (Spark's own codegen'd
  * parquet writer — no per-row driver involvement) and folds the file's
  * derived, bloom and sketch stats as it writes ([[graft.write.FileStatsFold]]);
  * commit adds the footer stats and swaps the SCANNED file set for the staged one
  * through the snapshot CAS protocol. The reference reaches the same end
  * state via PyIceberg upsert (`destination_client.py:1437-1469`) with
  * delete-expression pushdown narrowing the rewrite
  * (`merge_utils.py:17-42`); here the whole operation stays declarative
  * so Catalyst plans the join/update itself.
  *
  * Scale shape — GROUP granularity is the FILE, not the table. The
  * operation scan ([[GroupScan]]) narrows the rewrite twice:
  *
  *  - statically: pushed DML predicates prune candidate files through
  *    the per-file min/max/bloom stats ([[StatsPrune]]);
  *  - at runtime ([[SupportsRuntimeV2Filtering]] on `_file`): Spark's
  *    row-level group filtering runs the matching-rows subquery
  *    (target ⋈ source for MERGE, the WHERE for UPDATE) and delivers
  *    the distinct origin files of matched rows — only those files are
  *    scanned, rewritten, and replaced; every other file survives the
  *    commit BY PATH, untouched on disk.
  *
  * So a MERGE touching 0.1% of rows rewrites ~0.1% of files instead of
  * 100%. Tables with OUTSTANDING merge-on-read deletes fall back to the
  * full-group V1 scan (deletes applied in the scan; the rewrite clears
  * them) — compaction restores the narrowed path.
  *
  * Concurrency: commit refuses when the live file set OR delete set no
  * longer equals the planning snapshot's (the scan's row basis), through
  * the one staleness rule, [[TableMetadata.requireNotSuperseded]]; a
  * commit that fails for good deletes the write's staging directory. */
final class GraftRowLevelOperation(
    ns: String,
    tableName: String,
    cat: GraftCatalog,
    scanOf: CaseInsensitiveStringMap => ScanBuilder,
    meta: TableMetadata,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command,
    snapshotFiles: Seq[DataFile],
    plannedDeletePaths: Set[String]) extends RowLevelOperation {

  private val useGroupScan = plannedDeletePaths.isEmpty
  private val state = new GroupScanState(snapshotFiles)

  override def command(): RowLevelOperation.Command = cmd

  /** `_file` rides along with every scanned row so the runtime group
    * filter can resolve it on the operation relation (and the write
    * exec's metadata projection strips it before rows reach the
    * writer). Only on the group-scan path — the V1 fallback cannot
    * serve per-row metadata through `ReplaceData`. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (useGroupScan) Array(Expressions.column(GroupScan.FileColumn))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (useGroupScan)
      new GroupScanBuilder(SparkSession.active, meta, tableSchema, state)
    else GraftV2Table.wrapV1(scanOf(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the DECLARED write layout: authoritative column names for the rows
    // Spark hands the writing task (the table columns, possibly preceded
    // by metadata columns such as the row operation)
    val writeSchema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceBatchWrite(ns, tableName, cat, tableSchema,
            writeSchema, cmd.toString.toLowerCase,
            snapshotFiles.map(_.path).toSet, plannedDeletePaths,
            if (useGroupScan) Some(state) else None)
      }
    }
  }
}

/** Per-task result: the staged file (empty string when the task saw no
  * rows and wrote nothing) and its fold. */
final case class GraftWriteMessage(path: String, file: FileStatsFold.Folded)
  extends WriterCommitMessage

final class GraftReplaceBatchWrite(
    ns: String,
    tableName: String,
    cat: GraftCatalog,
    schema: StructType,
    writeSchema: StructType,
    op: String,
    plannedPaths: Set[String],
    plannedDeletePaths: Set[String],
    groupState: Option[GroupScanState] = None) extends BatchWrite {

  private val loadId =
    s"sql-$op-${java.util.UUID.randomUUID().toString.take(12)}"

  private def table: GraftTable = cat.loadTable(ns, tableName)

  private lazy val destDir =
    java.nio.file.Files.createDirectories(table.dataDir.resolve(loadId))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(StagedFile.Spec(SparkSession.active, schema,
      FileStatsFold.forTable(SparkSession.active, table.metadata, schema),
      destDir.toString), writeSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect {
      case m: GraftWriteMessage if m.file.rows > 0 && m.path.nonEmpty => m.path -> m.file
    }.toMap
    // the replaced set = what the operation scan ACTUALLY read (the
    // written rows are its output): the full planned set on the V1
    // fallback, the statically+runtime narrowed group set otherwise.
    // On the GROUP path a scan that was never planned means ZERO groups
    // were read — Spark's runtime group filtering found no matching
    // files and empty-relation propagation elided the scan subtree
    // entirely (planInputPartitions never ran), so the write's rows are
    // pure inserts. Falling back to plannedPaths there would replace
    // EVERY live file with insert-only output: mass row loss (caught by
    // the model checker's seed-7 pure-insert MERGE on a multi-file
    // table).
    val replaced = groupState match {
      case Some(st) => st.scannedPaths.getOrElse(Set.empty[String])
      case None => plannedPaths
    }
    if (staged.isEmpty && replaced.isEmpty) return // zero matched groups
    val t = table
    val dataFiles = StagedFile.dataFiles(staged, schema)
    t.commit({ fresh =>
      fresh.requireNotSuperseded(s"SQL $op", plannedPaths, identical = true,
        Some(plannedDeletePaths))
      // group replace: the scanned files are rewritten (on the V1
      // fallback that is every planned file, with deletes applied — so
      // outstanding delete files have no remaining victims and clear);
      // files outside the scanned groups survive by path
      fresh.withSnapshotDelta(op, Some(loadId), dataFiles, replaced,
        clearDeletes = replaced == plannedPaths)
    }, maxRetries = 5, backoffBase = 2.0, unitMs = 50L,
      staged = Seq(destDir.toString))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case GraftWriteMessage(p, _) if p.nonEmpty => p }
      .foreach(p =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    ()
  }
}

/** One task's staged parquet file, created on its first row (so empty
  * partitions emit nothing) and folded as it is written. The name carries
  * the task id, keeping speculative/retried attempts distinct; the commit
  * coordinator admits exactly one message per partition. */
private[catalog] final class StagedFile(spec: StagedFile.Spec, partitionId: Int,
    taskId: Long) {
  private var writer: OutputWriter = null
  private val acc = spec.fold.open()
  var path: String = ""

  def write(row: InternalRow): Unit = {
    if (writer == null) {
      val ctx = new TaskAttemptContextImpl(spec.conf.value,
        new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP,
          partitionId), (taskId % Int.MaxValue).toInt))
      path = s"${spec.dir}/part-$partitionId-$taskId${spec.owf.getFileExtension(ctx)}"
      writer = spec.owf.newInstance(path, spec.schema, ctx)
    }
    writer.write(row)
    acc.add(row)
  }
  def close(): Unit = if (writer != null) writer.close()
  def result: FileStatsFold.Folded = acc.result
  def abort(): Unit = {
    close()
    if (path.nonEmpty) java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
  }
}

private[catalog] object StagedFile {
  /** What executors need to stage files of `schema` under `dir`: Spark's
    * parquet writer factory (`prepareWrite` wires the parquet output conf
    * into the job conf; timestamps as int64 micros) and its job conf, and
    * the fold. */
  final class Spec(val owf: OutputWriterFactory, val conf: SerializableConfiguration,
      val schema: StructType, val fold: FileStatsFold, val dir: String) extends Serializable

  object Spec {
    def apply(spark: SparkSession, schema: StructType, fold: FileStatsFold,
        dir: String): Spec = {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val owf = new org.apache.spark.sql.classic.GraftSqlShims.MicrosParquetFormat()
        .prepareWrite(spark, job, Map.empty, schema)
      new Spec(owf, new SerializableConfiguration(job.getConfiguration), schema, fold, dir)
    }
  }

  /** The staged files (path → fold) as `DataFile`s: footer stats
    * completed with each file's fold, in path order. */
  def dataFiles(staged: Map[String, FileStatsFold.Folded], schema: StructType): Seq[DataFile] =
    FooterStats.collect(staged.keys.toSeq.sorted, schema,
      SparkSession.active.sessionState.newHadoopConf())
      .map(f => FileStatsFold.complete(f, staged(f.path)))
}

/** Ships the staged-file spec to executors; each task writes at most one
  * file. */
final class GraftDataWriterFactory(
    spec: StagedFile.Spec,
    writeSchema: StructType) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val schema = spec.schema
      private val file = new StagedFile(spec, partitionId, taskId)
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = null
      private var checkedShape = false

      /** Table-column ordinals in the arriving rows, derived BY NAME from
        * the declared write schema when the arity matches it; the one
        * layout Spark hands over undeclared — group-based ReplaceData
        * rows as `[__row_operation:int, <declared cols>]` when the plain
        * writing task runs (its row projection applies only on the
        * metadata path) — is accepted exactly, and anything else fails
        * loudly instead of writing shifted columns. */
      private def resolveLayout(numFields: Int): Unit = {
        val P = org.apache.spark.sql.catalyst.ProjectingInternalRow
        if (numFields == writeSchema.length &&
            schema.fieldNames.forall(writeSchema.fieldNames.contains)) {
          val ord = schema.fieldNames.toIndexedSeq.map(writeSchema.fieldIndex)
          proj = if (ord == schema.indices.toIndexedSeq) null
                 else P(schema, ord)
        } else if (numFields == writeSchema.length + 1 &&
            writeSchema.fieldNames.sameElements(schema.fieldNames)) {
          proj = P(schema, (1 to schema.length).toIndexedSeq)
        } else throw new IllegalStateException(
          s"row-level write layout mismatch: row has $numFields fields, " +
            s"declared write schema is ${writeSchema.catalogString}, " +
            s"table schema is ${schema.catalogString}")
      }

      override def write(row: InternalRow): Unit = {
        if (!checkedShape) { checkedShape = true; resolveLayout(row.numFields) }
        if (proj == null) file.write(row)
        else { proj.project(row); file.write(proj) }
      }

      override def commit(): WriterCommitMessage = {
        file.close()
        GraftWriteMessage(file.path, file.result)
      }

      override def abort(): Unit = file.abort()

      override def close(): Unit = ()
    }
}

/** Merge-on-read SQL DML — the delta-based row-level protocol
  * ([[SupportsDelta]]), selected by [[GraftV2Table]] when the table
  * carries `graft.delete.mode = merge-on-read` AND a
  * `graft.primary-key` property. Row identity is the PRIMARY KEY (the
  * same equality-delete key model the engine's MoR writes use —
  * Iceberg v2 equality deletes), so no hidden metadata columns are
  * needed: Spark scans ONLY the matched rows, and each task streams
  * its deletes into one tiny equality-delete key file and its
  * inserts/updated rows into one data file. Commit is O(delta):
  * parent data files are never read or rewritten, sequence stamping in
  * `withSnapshotDelta` fences the new delete keys so a batch never
  * deletes its own inserts — exactly the `morCommit` contract, now
  * reachable from SQL UPDATE / MERGE INTO / DELETE.
  *
  * `representUpdateAsDeleteAndInsert = true`: an update IS
  * delete-key + reinsert under equality-delete semantics. */
final class GraftDeltaOperation(
    ns: String,
    tableName: String,
    cat: GraftCatalog,
    scanOf: CaseInsensitiveStringMap => ScanBuilder,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command,
    pk: Seq[String],
    plannedPaths: Set[String],
    plannedDeletePaths: Set[String]) extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    pk.map(Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftV2Table.wrapV1(scanOf(options))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new GraftDeltaBatchWrite(ns, tableName, cat, tableSchema, pk,
            cmd.toString.toLowerCase, plannedPaths, plannedDeletePaths)
      }
    }
}

final case class GraftDeltaMessage(
    dataPath: String, data: FileStatsFold.Folded,
    delPath: String, del: FileStatsFold.Folded) extends WriterCommitMessage

final class GraftDeltaBatchWrite(
    ns: String,
    tableName: String,
    cat: GraftCatalog,
    schema: StructType,
    pk: Seq[String],
    op: String,
    plannedPaths: Set[String],
    plannedDeletePaths: Set[String]) extends DeltaBatchWrite {

  private val loadId =
    s"sql-mor-$op-${java.util.UUID.randomUUID().toString.take(12)}"

  private val keySchema =
    StructType(pk.map(n => schema.fields.find(_.name == n).getOrElse(
      throw new ValidationError(
        s"graft.primary-key column '$n' not in table schema"))))

  private def table: GraftTable = cat.loadTable(ns, tableName)

  private lazy val dataDir =
    java.nio.file.Files.createDirectories(table.dataDir.resolve(loadId))
  private lazy val delDir =
    java.nio.file.Files.createDirectories(table.dir.resolve("deletes").resolve(loadId))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    new GraftDeltaWriterFactory(
      StagedFile.Spec(spark, schema,
        FileStatsFold.forTable(spark, table.metadata, schema), dataDir.toString),
      StagedFile.Spec(spark, keySchema, FileStatsFold(spark, keySchema),
        delDir.toString))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.collect { case m: GraftDeltaMessage => m }
    val t = table
    val dataFiles = StagedFile.dataFiles(all.collect {
      case m if m.data.rows > 0 && m.dataPath.nonEmpty => m.dataPath -> m.data
    }.toMap, schema)
    val delFiles = StagedFile.dataFiles(all.collect {
      case m if m.del.rows > 0 && m.delPath.nonEmpty => m.delPath -> m.del
    }.toMap, keySchema).map(f => DeleteFile(f.path, pk, f.rowCount, 0L, f.stats))
    if (dataFiles.isEmpty && delFiles.isEmpty) return
    // O(delta) commit, same shape as morCommit: no parent file is read
    // or rewritten; sequence fencing makes the delete keys apply only to
    // OLDER files, so this batch never deletes its own inserts. UNLIKE
    // blind engine upserts, though, SQL MERGE/UPDATE decisions are
    // predicate-dependent — a concurrent commit that changed the row
    // basis (rewrote files or added deletes) invalidates the matched
    // set, so commit refuses staleness exactly like the CoW path.
    t.commit({ fresh =>
      fresh.requireNotSuperseded(s"SQL $op (merge-on-read)", plannedPaths,
        identical = true, Some(plannedDeletePaths))
      fresh.withSnapshotDelta(op, Some(loadId), dataFiles, Set.empty,
        newDeletes = delFiles)
    }, maxRetries = 5, backoffBase = 2.0, unitMs = 50L,
      staged = Seq(dataDir.toString, delDir.toString))
    if (delFiles.nonEmpty)
      graft.write.Maintenance.autoApplyIfNeeded(t, retryUnitMs = 50L)
    graft.write.Maintenance.autoCompactIfNeeded(t, retryUnitMs = 50L)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftDeltaMessage => m }.foreach { m =>
      if (m.dataPath.nonEmpty)
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(m.dataPath))
      if (m.delPath.nonEmpty)
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(m.delPath))
    }
    ()
  }
}

final class GraftDeltaWriterFactory(
    data: StagedFile.Spec, keys: StagedFile.Spec) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dataFile = new StagedFile(data, partitionId, taskId)
      private val keyFile = new StagedFile(keys, partitionId, taskId)

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        keyFile.write(id)
      override def insert(row: InternalRow): Unit = dataFile.write(row)
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        // not reached with representUpdateAsDeleteAndInsert=true, but
        // the semantics are identical either way
        keyFile.write(id); dataFile.write(row)
      }
      override def commit(): WriterCommitMessage = {
        dataFile.close(); keyFile.close()
        GraftDeltaMessage(dataFile.path, dataFile.result, keyFile.path, keyFile.result)
      }
      override def abort(): Unit = { dataFile.abort(); keyFile.abort() }
      override def close(): Unit = ()
    }
}
