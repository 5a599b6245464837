package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Handle to one committed table: snapshot reads, time travel, and the
  * atomic CAS commit protocol.
  *
  * Commit protocol (SURVEY §7.0): the next metadata version number is the
  * CAS token. Publishing `metadata/v<N+1>.metadata.json` (a hard link to
  * a fully written temp file, [[PathIO.publish]]) succeeds for
  * exactly one writer; the loser observes
  * FileAlreadyExistsException, rereads the freshest metadata, re-applies
  * its update function (rebase) and retries — the same
  * refresh-before-retry recovery as the reference
  * (`destination.py:428-435`, `error_handling.py:44-70`).
  */
final class GraftTable(val spark: SparkSession, val dir: Path) {

  def metadataDir: Path = dir.resolve("metadata")
  def dataDir: Path = dir.resolve("data")

  /** Current metadata = highest-version metadata file, discovered by
    * version-sorted directory scan with a version-hint fast path — the
    * reference's `_find_latest_metadata` (`sql_client.py:151-222`). */
  def currentVersion: Int = {
    val hint = metadataDir.resolve("version-hint.text")
    val hinted =
      if (Files.exists(hint))
        scala.util.Try(new String(Files.readAllBytes(hint), UTF_8).trim.toInt)
          .getOrElse(0)
      else 0
    // The hint is advisory (written after the CAS) — trust it only if no
    // higher version exists on disk.
    val scanned = listVersions.maxOption.getOrElse(0)
    math.max(hinted, scanned)
  }

  private def listVersions: Seq[Int] =
    PathIO.list(metadataDir)
      .map(_.getFileName.toString)
      .collect { case MetadataFileName(v) => v }

  private object MetadataFileName {
    private val Re = raw"v(\d+)\.metadata\.json".r
    def unapply(name: String): Option[Int] = name match {
      case Re(v) => Some(v.toInt)
      case _ => None
    }
  }

  private def versionPath(v: Int): Path =
    metadataDir.resolve(s"v$v.metadata.json")

  def metadata: TableMetadata = metadataAt(currentVersion)

  def metadataAt(version: Int): TableMetadata = {
    val p = versionPath(version)
    if (!Files.exists(p)) throw new NoSuchTableError(dir.toString)
    TableMetadata.fromJson(new String(Files.readAllBytes(p), UTF_8))
  }

  /** Metadata-only row count: folded from snapshot manifest refs, no data
    * scan AND no manifest body reads — the `COUNT(*)` fast path manifest
    * stats exist for. */
  def rowCount: Long = metadata.currentSnapshot.map(_.rowCount).getOrElse(0L)

  /** One-row table summary from table metadata alone (no data scan, no
    * manifest reads when refs are present): current snapshot, file/row/
    * byte totals, snapshot count. */
  def describe(): DataFrame = {
    val m = metadata
    val s = m.currentSnapshot
    import spark.implicits._
    Seq((m.identifier, m.currentSnapshotId.getOrElse(-1L), m.snapshots.size,
      s.map(_.fileCount).getOrElse(0), s.map(_.rowCount).getOrElse(0L),
      s.map(_.sizeBytes).getOrElse(0L), m.schemaVersion))
      .toDF("identifier", "snapshot_id", "n_snapshots", "n_files",
        "n_rows", "total_bytes", "schema_version")
  }

  /** Snapshot log, oldest first — the table's commit history as data
    * (metadata-only, like `describe`). */
  def history(): DataFrame = {
    import spark.implicits._
    metadata.snapshots.sortBy(_.snapshotId).map { s =>
      (s.snapshotId, s.parentId.getOrElse(-1L),
        new java.sql.Timestamp(s.timestampMs), s.operation,
        s.loadId.orNull, s.fileCount, s.rowCount)
    }.toDF("snapshot_id", "parent_id", "committed_at", "operation",
      "load_id", "n_files", "n_rows")
  }

  /** Named refs (branches/tags) as data — the `table.refs` metadata
    * table. */
  def refs(): DataFrame = {
    import spark.implicits._
    metadata.refs.getOrElse(Map.empty).toSeq.sortBy(_._1)
      .toDF("name", "snapshot_id")
  }

  /** Current data files as data — the `table.files` metadata table
    * (metadata + manifest reads only, no data scan). */
  def files(): DataFrame = {
    import spark.implicits._
    val m = metadata
    m.currentFiles.map(f =>
      (f.path, f.rowCount, f.sizeBytes, f.dataSeq, f.stats.size))
      .toDF("path", "row_count", "size_bytes", "data_seq", "n_stat_columns")
  }

  /** Outstanding merge-on-read delete files as data — the
    * `table.deletes` metadata table. */
  def deletesTable(): DataFrame = {
    import spark.implicits._
    val s = metadata.currentSnapshot
    val eq = s.map(_.deletes).getOrElse(Nil).map(d =>
      ("equality", d.path, d.rowCount, d.keyColumns.mkString(","), d.seq))
    val pos = s.map(_.posDeletes).getOrElse(Nil).map(d =>
      ("positional", d.path, d.rowCount, "", -1L))
    (eq ++ pos).toDF("kind", "path", "row_count", "key_columns", "seq")
  }

  /** Read the current snapshot as a DataFrame with the committed schema.
    * Files written under older schema versions null-fill missing columns
    * via the imposed read schema (sparse semantics, `test_sparse_schema
    * .py:80-106`). Empty table ⇒ empty DataFrame with the right schema.
    * Every read here plans through the SQL catalog's V2 table. */
  def read(): DataFrame = {
    val m = metadata
    relation(m, m.currentSnapshot)
  }

  /** Time travel: read the file set of a specific snapshot (with the
    * equality deletes live AT that snapshot). */
  def readSnapshot(snapshotId: Long): DataFrame = {
    val m = metadata
    relation(m, Some(findSnapshot(m, snapshotId)))
  }

  /** Time travel by wall clock: the latest snapshot committed at or
    * before `asOfMs` (the snapshot-as-of-timestamp read PyIceberg exposes
    * and `AS OF TIMESTAMP` SQL sugars). */
  def readAsOf(asOfMs: Long): DataFrame = {
    val m = metadata
    relation(m, Some(m.snapshotAsOf(asOfMs).getOrElse(throw new ValidationError(
      s"No snapshot at or before $asOfMs in ${m.identifier}"))))
  }

  /** Roll the table back to `snapshotId`: commits a NEW snapshot
    * referencing the target's manifests verbatim — a pure metadata
    * operation (no data or manifest IO), history fully preserved, and
    * concurrent writers still serialize through the normal CAS. */
  def rollbackTo(snapshotId: Long): TableMetadata =
    commit { m =>
      val target = findSnapshot(m, snapshotId)
      val snap = Snapshot(m.nextSnapshotId, m.currentSnapshotId,
        System.currentTimeMillis(), "rollback", None,
        manifests = target.manifests, files = target.files,
        manifestRefs = target.manifestRefs,
        // rollback restores the FILE set but commits under the current
        // schema, matching read()'s null-fill semantics for old files
        schemaVersionAt = Some(m.schemaVersion),
        // restore the deletes live at the target, too — the rolled-back
        // row SET is snapshot state, not just its files
        deleteFiles = target.deleteFiles,
        posDeleteFiles = target.posDeleteFiles,
        // an externalized target shares its immutable body by path —
        // expiry ref-counts body paths the same way it does manifests
        bodyPath = target.bodyPath,
        summary = target.summary)
      m.copy(currentSnapshotId = Some(snap.snapshotId),
        snapshots = m.snapshots :+ snap)
    }

  /** Incremental read: the files added since `sinceSnapshotId` (the
    * append-only change feed). Exact for append-only history; a merge or
    * compaction in between surfaces its whole rewritten files — the same
    * restriction as Iceberg's incremental append scan. */
  def readAppendsSince(sinceSnapshotId: Long): DataFrame = {
    val m = metadata
    val base = findSnapshot(m, sinceSnapshotId).dataFiles.map(_.path).toSet
    relation(m, m.currentFiles.filterNot(f => base.contains(f.path)),
      m.currentSnapshot.map(_.deletes).getOrElse(Nil),
      m.currentSnapshot.map(_.posDeletes).getOrElse(Nil))
  }

  /** Changelog scan (Iceberg changelog / CDC): the row-level changes
    * between two snapshots, as the table schema plus a `_change_type`
    * column (`insert` | `delete`).
    *
    *  - inserts: rows of data files ADDED in the window, with the
    *    window-end delete set applied (a row inserted and deleted inside
    *    the window nets out);
    *  - deletes: equality-delete keys added in the window (key columns
    *    populated, other columns null — the same partial-row shape
    *    Iceberg changelogs emit for equality deletes) plus
    *    positional-delete victims resolved back to FULL rows from their
    *    target files.
    *
    * Content-neutral rewrite snapshots (compaction, zorder,
    * apply-deletes) inside the window contribute ZERO change events —
    * the window is walked along the snapshot parent chain and split into
    * segments at each rewrite, which resets path attribution without
    * inventing changes (Iceberg's changelog treats rewrite snapshots the
    * same way). Events accumulate per segment: a row upserted in one
    * segment and again in a later one emits both delete+insert pairs.
    *
    * Still refused: a data file removed by a CONTENT-CHANGING commit
    * (copy-on-write merge/update/delete, replace, rollback) — row-level
    * attribution is genuinely lost there; diff full snapshots instead. */
  def changesBetween(fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val m = metadata
    val from = findSnapshot(m, fromSnapshotId)
    val to = findSnapshot(m, toSnapshotId)
    // the window along the parent chain, oldest first
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    var chain = List(to)
    while (chain.head.snapshotId != from.snapshotId) {
      val p = chain.head.parentId.flatMap(byId.get).getOrElse(
        throw new ValidationError(
          s"changesBetween($fromSnapshotId, $toSnapshotId): " +
            s"$fromSnapshotId is not an ancestor of $toSnapshotId in " +
            m.identifier))
      chain = p :: chain
    }
    val segs = scala.collection.mutable.ListBuffer.empty[(Snapshot, Snapshot)]
    var segStart = chain.head
    var prev = chain.head
    for (s <- chain.tail) {
      if (GraftTable.RewriteOps.contains(s.operation)) {
        if (prev.snapshotId != segStart.snapshotId) segs += ((segStart, prev))
        segStart = s // attribution restarts at the rewrite's output
      }
      prev = s
    }
    if (prev.snapshotId != segStart.snapshotId) segs += ((segStart, prev))
    if (segs.isEmpty)
      return relation(m, Nil).withColumn("_change_type",
        org.apache.spark.sql.functions.lit(""))
    segs.map { case (a, b) => diffSegment(m, a, b) }.reduce(_ unionByName _)
  }

  /** One rewrite-free window of [[changesBetween]]: endpoint path diff
    * is exact row attribution here. */
  private def diffSegment(m: TableMetadata, from: Snapshot,
      to: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    val fromPaths = from.dataFiles.map(_.path).toSet
    val toFiles = to.dataFiles
    val toPaths = toFiles.map(_.path).toSet
    if (!fromPaths.subsetOf(toPaths))
      throw new ValidationError(
        s"changesBetween(${from.snapshotId}, ${to.snapshotId}): a data " +
          "file was removed by a content-changing commit in the window " +
          "(CoW merge/update/delete, replace, rollback) — row-level " +
          "attribution is lost; diff full snapshots instead")
    val schemaCols = m.schema.fieldNames.toSeq

    val newFiles = toFiles.filterNot(f => fromPaths.contains(f.path))
    val inserts = relation(m, newFiles, to.deletes, to.posDeletes)
      .withColumn("_change_type", lit("insert"))

    // equality deletes added in the window -> partial key rows. MoR
    // upserts write delete keys for brand-new keys too (cheap blind
    // fencing), so restrict to keys LIVE at the window start — a key
    // that never existed produces no delete event (an in-window upsert
    // of an existing key still emits its delete+insert pair).
    val fromDel = from.deletes.map(_.path).toSet
    val newEq = to.deletes.filterNot(d => fromDel.contains(d.path))
    lazy val fromLive =
      relation(m, from.dataFiles, from.deletes, from.posDeletes)
    val eqRows = newEq.groupBy(_.keyColumns).toSeq.sortBy(_._1.mkString(","))
      .map { case (keyCols, dels) =>
        // ONE multi-path scan over the window's delete files (a per-file
        // union plan grows linearly in trickle-commit count — see
        // MorRead.deleteKeysWithSeq); the seq attribution is irrelevant
        // here, only the distinct key set matters
        val keys = MorRead.deleteKeysWithSeq(spark, keyCols,
            keyCols.map(k => k -> Some(m.schema(k).dataType)).toMap, dels)
          .drop("__gf_dseq").distinct()
          .join(fromLive.select(keyCols.map(col): _*), keyCols, "left_semi")
        keys.select(schemaCols.map(c =>
          (if (keyCols.contains(c)) col(c)
           else lit(null).cast(m.schema(c).dataType)).as(c)): _*)
          .withColumn("_change_type", lit("delete"))
      }

    // positional deletes added in the window -> full victim rows
    val fromPos = from.posDeletes.map(_.path).toSet
    val newPos = to.posDeletes.filterNot(d => fromPos.contains(d.path))
    val posRows =
      if (newPos.isEmpty) Nil
      else {
        val targets = spark.read.schema(m.schema)
          .parquet(from.dataFiles.map(_.path): _*)
          .withColumn("__gf_path", MorRead.posixPath(col("_metadata.file_path")))
          .withColumn("__gf_pidx", col("_metadata.row_index"))
        // positions already dead at the window start emit no event
        val victims = targets.join(broadcast(MorRead.posKeys(spark, newPos)),
          Seq("__gf_path", "__gf_pidx"))
        val alive =
          if (from.posDeletes.isEmpty) victims
          else victims.join(broadcast(MorRead.posKeys(spark, from.posDeletes)),
            Seq("__gf_path", "__gf_pidx"), "left_anti")
        Seq(alive.select(schemaCols.map(col): _*)
          .withColumn("_change_type", lit("delete")))
      }

    (Seq(inserts) ++ eqRows ++ posRows).reduce(_ unionByName _)
  }

  /** Evolve the partition spec (Iceberg-style): future loads cluster and
    * stat under the new spec; existing files keep their layout and stay
    * conservatively un-pruned on the new derived columns. Validated
    * against historical name reuse (see
    * [[TableMetadata.withPartitionSpec]]). */
  def updatePartitionSpec(hints: Seq[graft.partition.PartitionHint]): TableMetadata =
    commit { m =>
      val spec = graft.partition.Transforms.buildSpec(hints, m.schema)
      // buildSpec skips hints for unknown columns (reasonable for
      // create-time inference, silent data loss for an explicit
      // evolution API): a typo must fail loudly, not drop partitioning
      if (spec.size != hints.size)
        throw new ValidationError(
          s"Partition hints named column(s) not in the schema: " +
            hints.map(_.column).diff(spec.map(_.source)).mkString(", "))
      m.withPartitionSpec(spec)
    }

  // ---- Branches / tags (write-audit-publish) -------------------------

  /** Create a named ref at `fromSnapshotId` (default: current snapshot).
    * Branches and tags share the mechanism; a "tag" is simply a ref the
    * caller never commits to. */
  def createBranch(name: String, fromSnapshotId: Option[Long] = None): TableMetadata =
    commit { m =>
      require(name.nonEmpty && name != "main", s"invalid branch name '$name'")
      // all-digit names would be ambiguous with snapshot ids in
      // `VERSION AS OF` (Iceberg refs are names, ids are numbers)
      require(!name.forall(_.isDigit),
        s"invalid branch name '$name': all-numeric names collide with snapshot ids")
      if (m.refId(name).isDefined)
        throw new ValidationError(s"Branch '$name' already exists in ${m.identifier}")
      val at = fromSnapshotId.orElse(m.currentSnapshotId).getOrElse(
        throw new ValidationError("Cannot branch an empty table"))
      findSnapshot(m, at) // validate target exists
      m.copy(refs = Some(m.refs.getOrElse(Map.empty) + (name -> at)))
    }

  /** Read a branch/tag head (deletes live at that head apply). */
  def readBranch(name: String): DataFrame = {
    val m = metadata
    val id = m.refId(name).getOrElse(
      throw new ValidationError(s"No branch '$name' in ${m.identifier}"))
    relation(m, Some(findSnapshot(m, id)))
  }

  /** Publish (fast-forward): point the MAIN table state at the branch
    * head. Requires the current snapshot to be an ancestor of the head —
    * the audit flow's invariant that main cannot silently lose commits;
    * a diverged main fails loudly and the caller rebases by re-running
    * the branch load. The ref is dropped after publishing. */
  def publish(name: String): TableMetadata =
    commit { m =>
      val head = m.refId(name).getOrElse(
        throw new ValidationError(s"No branch '$name' in ${m.identifier}"))
      // walk the parent chain from head rootward (stops at expired
      // ancestors, which can no longer equal a live current snapshot)
      val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
      var ancestors = Set.empty[Long]
      var cur: Option[Long] = Some(head)
      while (cur.isDefined && !ancestors.contains(cur.get)) {
        ancestors += cur.get
        cur = byId.get(cur.get).flatMap(_.parentId)
      }
      if (!m.currentSnapshotId.forall(ancestors.contains))
        throw new ValidationError(
          s"Cannot fast-forward: main diverged from branch '$name' in ${m.identifier}")
      m.copy(currentSnapshotId = Some(head),
        refs = Some(m.refs.getOrElse(Map.empty) - name).filter(_.nonEmpty))
    }

  def dropBranch(name: String): TableMetadata =
    commit { m =>
      if (m.refId(name).isEmpty)
        throw new ValidationError(s"No branch '$name' in ${m.identifier}")
      m.copy(refs = Some(m.refs.getOrElse(Map.empty) - name).filter(_.nonEmpty))
    }

  private def findSnapshot(m: TableMetadata, snapshotId: Long): Snapshot =
    m.snapshots.find(_.snapshotId == snapshotId)
      .getOrElse(throw new ValidationError(
        s"No snapshot $snapshotId in ${m.identifier}"))

  /** `files` less `deletes` and `posDeletes`, under the committed schema. */
  private def relation(m: TableMetadata, files: Seq[DataFile],
      deletes: Seq[DeleteFile] = Nil,
      posDeletes: Seq[PosDeleteFile] = Nil): DataFrame =
    org.apache.spark.sql.classic.GraftSqlShims.dfOf(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        GraftV2Table(spark, m.identifier, m, m.schema, files, deletes, posDeletes),
        None, None))

  private def relation(m: TableMetadata, s: Option[Snapshot]): DataFrame =
    relation(m, s.map(_.dataFiles).getOrElse(Nil), s.map(_.deletes).getOrElse(Nil),
      s.map(_.posDeletes).getOrElse(Nil))

  /** S2 parity: scan with a range predicate pushed through BOTH layers —
    * file and delete pruning via [[StatsPrune]] (the manifest-pruning
    * analogue) and parquet row-group/page pruning via the Spark filter.
    * `lo`/`hi` are inclusive bounds in the column's natural type. */
  def scanRange(column: String, lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    read().filter(col(column).between(lit(lo), lit(hi)))
  }

  /** Point lookup: [[StatsPrune]] keeps only the files whose min/max,
    * [[KeyBloom]] (decisive for UUID-ish keys whose [min,max] spans the
    * keyspace) and — on a bucket-partitioned `column` — derived bucket
    * stats admit the value, plus the delete files whose key ranges do;
    * the scan then runs with the equality filter pushed down. */
  def readPointLookup(column: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    read().filter(col(column) === lit(value))
  }

  /** Atomic commit: reread freshest metadata, apply `update`, CAS-write the
    * next version. Retries with exponential backoff on conflict.
    * The output an attempt stages inside `update` ([[GraftTable.recordStaged]])
    * is deleted when that attempt does not publish; `staged`, the output
    * staged before the commit, when the commit fails for good. After a
    * [[CommitFailedError]] the publish outcome is unknown: nothing is
    * deleted, `vacuumOrphans` collects what is left. */
  def commit(update: TableMetadata => TableMetadata,
      maxRetries: Int = 5, backoffBase: Double = 2.0, unitMs: Long = 1000L,
      staged: Seq[String] = Nil): TableMetadata = {
    var unknown = false // a publish failed with an unknown outcome
    try Retry.withRetries(maxRetries, backoffBase, unitMs) { () =>
      val output = scala.collection.mutable.ListBuffer.empty[String]
      try {
        val v = currentVersion
        val next = GraftTable.attemptOutput.withValue(output)(update(metadataAt(v)))
        Option(GraftTable.beforeCas.remove(dir)).foreach(_())
        writeVersion(v + 1, next)
        next
      } catch {
        case e: CommitFailedError => unknown = true; throw e
        case e: Throwable => TableMetadata.discardStaged(this, output.toSeq); throw e
      }
    } catch {
      case e: Throwable if !unknown => TableMetadata.discardStaged(this, staged); throw e
    }
  }

  /** Publishes `m` as `version`. Once linked the version is live, so the
    * hint after it is best-effort. */
  private def writeVersion(version: Int, m: TableMetadata): Unit = {
    Files.createDirectories(metadataDir)
    try PathIO.publish(versionPath(version), TableMetadata.toJson(m).getBytes(UTF_8))
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictError(m.identifier, version, e)
      case e: java.io.IOException =>
        throw new CommitFailedError(m.identifier, e)
    }
    // Advisory fast-path pointer, updated atomically after the CAS.
    try PathIO.publish(metadataDir.resolve("version-hint.text"),
      version.toString.getBytes(UTF_8), replace = true)
    catch {
      case scala.util.control.NonFatal(e) =>
        GraftTable.log.warn(s"${m.identifier}: version hint not updated to $version: $e")
    }
  }
}

object GraftTable {
  /** Spec seam: a one-shot action the next commit of the table at this
    * directory runs between its update and its CAS, so a spec can land a
    * concurrent commit inside that window. */
  private[graft] val beforeCas =
    new java.util.concurrent.ConcurrentHashMap[Path, () => Unit]()

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftTable])

  /** The output of the commit attempt whose `update` runs on this thread. */
  private val attemptOutput =
    new scala.util.DynamicVariable[scala.collection.mutable.ListBuffer[String]](null)

  /** Records `path`, staged under a table's data or deletes root, as
    * output of the open commit attempt; a no-op outside one. */
  private[graft] def recordStaged(path: Path): Unit =
    Option(attemptOutput.value).foreach(_ += path.toString)

  /** Operations whose snapshots are content-neutral file rewrites: the
    * live row set is unchanged, only paths move. The changelog skips
    * them; anything else that removes files is content-changing. */
  val RewriteOps: Set[String] =
    Set("compact", "zorder", "apply-deletes", "rewrite-manifests")

  /** Bootstrap v1 metadata for a new table (CAS on v1 rejects concurrent
    * double-create). */
  def create(spark: SparkSession, dir: Path, m: TableMetadata): GraftTable = {
    val t = new GraftTable(spark, dir)
    Files.createDirectories(t.metadataDir)
    try PathIO.publish(t.metadataDir.resolve("v1.metadata.json"),
      TableMetadata.toJson(m).getBytes(UTF_8))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new TableAlreadyExistsError(m.identifier)
    }
    t
  }
}
