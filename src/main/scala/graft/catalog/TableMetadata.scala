package graft.catalog

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Per-column min/max/null stats for one data file, stored as strings and
  * re-typed through the table schema on use. Powers file pruning (the Spark
  * analogue of the reference's PyIceberg manifest pruning on
  * `row_filter` scans, `destination_client.py:320-322`). `bloom` is an
  * optional base64 [[KeyBloom]] filter for point-lookup pruning on
  * columns whose min/max spans the keyspace (UUID keys). */
final case class ColumnStats(
    min: Option[String],
    max: Option[String],
    nullCount: Option[Long],
    bloom: Option[String] = None,
    /** Base64 Apache DataSketches HLL sketch of the column's values in
      * this file (written opt-in via `graft.sketch-columns`) — the
      * Iceberg-Puffin design: per-file sketches UNION across the live
      * file set on the driver, so CBO NDV stays fresh through appends
      * and compactions without ever rescanning data. */
    hll: Option[String] = None)

final case class DataFile(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    stats: Map[String, ColumnStats],
    /** Data sequence number = snapshotId of the commit that ADDED this
      * file (stamped in the commit path). An equality [[DeleteFile]]
      * applies to a data file iff `file.seq < delete.seq` — rows written
      * in the same commit as (or after) a delete are never its victims,
      * the Iceberg v2 sequence-number rule. None on pre-MoR metadata ⇒
      * treated as 0 (every later delete applies). */
    seq: Option[Long] = None) {
  def dataSeq: Long = seq.getOrElse(0L)
}

/** Equality-delete file (Iceberg v2 merge-on-read): a parquet file of
  * DISTINCT key tuples whose matching rows in OLDER data files
  * (`dataSeq < seq`) are logically deleted at read time. Trickle
  * merges/deletes commit one tiny delete file instead of rewriting every
  * affected data file — the write amplification fix for streaming
  * upserts at scale; compaction applies deletes physically and clears
  * them. `stats` carry per-key-column min/max so scans outside the key
  * range skip the anti-join entirely. */
final case class DeleteFile(
    path: String,
    keyColumns: Seq[String],
    rowCount: Long,
    seq: Long,
    stats: Map[String, ColumnStats] = Map.empty)

/** Positional-delete file (Iceberg-style delete vector): a parquet of
  * `(file_path string, row_index long)` rows marking individual row
  * positions of named data files as deleted — what `DELETE FROM ...
  * WHERE` commits in merge-on-read mode (no key columns required, unlike
  * equality deletes). Self-fencing by construction: positions bind to an
  * immutable data-file PATH, so a rewrite that restages rows under a new
  * path automatically escapes stale entries — no sequence numbers
  * needed. */
final case class PosDeleteFile(
    path: String,
    rowCount: Long)

/** Typed comparison of two stat strings — shared by file-level pruning
  * ([[StatsPrune]]) and manifest-ref-level range aggregation, so both
  * layers order identically (numeric for numerics/temporals, lexical for
  * strings; a lexical min of {"9","10"} would be "10" and silently
  * corrupt pruning). */
object StatCompare {
  import org.apache.spark.sql.types._
  def compare(dt: DataType, a: String, b: String): Int = dt match {
    // temporal stats are stored as epoch-day / epoch-micros longs
    // (`FooterStats`, `FileStatsFold`) — variable-width, so they must compare
    // numerically, never lexically
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    // TIME stats are micros-of-day longs (FooterStats)
    case _: TimeType => java.lang.Long.compare(a.toLong, b.toLong)
    case FloatType | DoubleType =>
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case _: DecimalType => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => a.compareTo(b) // strings sort lexically
  }
}

/** Snapshot-side manifest reference with enough summary metadata to
  * commit and to answer history/describe questions WITHOUT reading the
  * manifest body. Manifests are immutable and uniquely named, so the path
  * alone is the content identity — carrying a ref across snapshots never
  * needs a re-read. `pathBloom` is a [[KeyBloom]] over the manifest's
  * data-file paths: a merge commit tests its removed-path set against it
  * and only opens the manifests that might actually lose a file.
  * `colMin`/`colMax` aggregate the member files' typed column ranges
  * (only columns EVERY member carries stats for), so scan/merge planning
  * skips whole manifests without opening them — the Iceberg
  * manifest-list partition-summary idea. */
final case class ManifestRef(
    path: String,
    fileCount: Int,
    rowCount: Long,
    sizeBytes: Long,
    pathBloom: Option[String] = None,
    colMin: Option[Map[String, String]] = None,
    colMax: Option[Map[String, String]] = None)

/** One table snapshot = the complete file list after a load — 1 snapshot
  * per table per load, the reference's atomicity invariant
  * (`destination_client.py:977-1024`).
  *
  * The file list lives in immutable [[ManifestIO]] manifest files
  * referenced by `manifestRefs`; unchanged file groups are REUSED across
  * snapshots by identity (no body reads — see [[ManifestRef]]), so commit
  * IO is proportional to the files that changed, never the table's file
  * count times history depth — even on a cold JVM with an empty manifest
  * cache. `manifests` (bare path list) and `files` (inline) carry the two
  * legacy forms for metadata written before refs existed. */
final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // append | overwrite | delete-insert | upsert
    loadId: Option[String],
    manifests: Option[Seq[String]] = None,
    files: Option[Seq[DataFile]] = None,
    manifestRefs: Option[Seq[ManifestRef]] = None,
    // schema version in force when this snapshot committed (Iceberg pins a
    // schema-id per snapshot) — time-traveled SQL reads resolve it through
    // TableMetadata.schemaAt so they see the columns of THAT point in
    // history, not ones added later. None on pre-existing metadata ⇒
    // falls back to the current schema (the old behavior).
    schemaVersionAt: Option[Int] = None,
    // Live equality-delete files (merge-on-read). Inline in the snapshot:
    // their count is bounded by merges-since-last-compaction, and
    // MaintenancePolicy-driven compaction applies + clears them, so the
    // list never grows unboundedly the way the data-file list would.
    deleteFiles: Option[Seq[DeleteFile]] = None,
    // Live positional-delete files (DELETE FROM in merge-on-read mode);
    // same growth bound (applyDeletes clears them).
    posDeleteFiles: Option[Seq[PosDeleteFile]] = None,
    // Externalized body ([[SnapBodyIO]]): when set, the heavy content —
    // manifest refs and delete lists — lives in one immutable file and
    // the inline fields above stay None; `summary` keeps history()
    // metadata-only. Commits externalize past
    // [[TableMetadata.InlineSnapshotEntryMax]] entries so the metadata
    // JSON stays O(1) per snapshot instead of O(refs + backlog) — the
    // trickle-history quadratic-metadata fix.
    bodyPath: Option[String] = None,
    summary: Option[SnapSummary] = None) {
  private lazy val body: Option[SnapBody] = bodyPath.map(SnapBodyIO.read)
  /** Manifest refs, resolving an externalized body; None only for the
    * legacy bare-path / inline-file forms. */
  def resolvedRefs: Option[Seq[ManifestRef]] =
    manifestRefs.orElse(body.map(_.manifestRefs))
  def deletes: Seq[DeleteFile] =
    deleteFiles.orElse(body.map(_.deleteFiles)).getOrElse(Nil)
  def posDeletes: Seq[PosDeleteFile] =
    posDeleteFiles.orElse(body.map(_.posDeleteFiles)).getOrElse(Nil)
  def dataFiles: Seq[DataFile] = files.getOrElse {
    resolvedRefs match {
      case Some(refs) => refs.flatMap(r => ManifestIO.read(r.path))
      case None => manifests.getOrElse(Nil).flatMap(ManifestIO.read)
    }
  }
  def manifestPaths: Seq[String] =
    resolvedRefs.map(_.map(_.path)).getOrElse(manifests.getOrElse(Nil))
  /** Metadata-only when a summary or refs are present (history()/
    * describe() must not open manifest bodies). */
  def rowCount: Long = summary.map(_.rowCount).getOrElse(resolvedRefs match {
    case Some(refs) if files.isEmpty => refs.map(_.rowCount).sum
    case _ => dataFiles.map(_.rowCount).sum
  })
  def fileCount: Int = summary.map(_.fileCount).getOrElse(resolvedRefs match {
    case Some(refs) if files.isEmpty => refs.map(_.fileCount).sum
    case _ => dataFiles.size
  })
  def sizeBytes: Long = summary.map(_.sizeBytes).getOrElse(resolvedRefs match {
    case Some(refs) if files.isEmpty => refs.map(_.sizeBytes).sum
    case _ => dataFiles.map(_.sizeBytes).sum
  })
}

/** Partition spec entry: `name = transform(source)` — the shape the
  * reference builds in `build_partition_spec`
  * (`partition_builder.py:136-209`). `param` carries bucket N / truncate W. */
final case class PartitionFieldSpec(
    source: String,
    transform: String,
    param: Option[Int],
    name: String)

/** Full table metadata, persisted as `metadata/v<N>.metadata.json` — our
  * Iceberg-spec-inspired layer (SURVEY §7.0), discovery-compatible with the
  * reference's newest-metadata-file resolution (`sql_client.py:151-222`). */
final case class TableMetadata(
    formatVersion: Int,
    identifier: String,
    location: String,
    schemaJson: String,
    schemaVersion: Int,
    partitionSpec: Seq[PartitionFieldSpec],
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    // superseded schemas by version (current one lives in schemaJson) —
    // the lookup table behind snapshot-time schema resolution
    schemaHistory: Option[Map[String, String]] = None,
    // named refs (Iceberg branches/tags): ref name → snapshotId. Branch
    // commits advance their ref instead of currentSnapshotId — the
    // write-audit-publish staging surface; `publish` fast-forwards main
    // onto a ref. Snapshots are shared, so refs are pure metadata.
    refs: Option[Map[String, Long]] = None,
    // superseded partition specs (Iceberg spec evolution): kept so a
    // NEW spec field can never reuse a historical derived-column NAME
    // with different semantics — old files' stats under that name would
    // be re-typed through the new transform and corrupt pruning.
    specHistory: Option[Seq[Seq[PartitionFieldSpec]]] = None) {

  def refId(name: String): Option[Long] = refs.flatMap(_.get(name))

  lazy val schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Schema as of `version`: the current schema for the current version,
    * a historical one from [[schemaHistory]] otherwise; unknown versions
    * (metadata written before history was recorded) fall back to current. */
  def schemaAt(version: Int): StructType =
    if (version == schemaVersion) schema
    else schemaHistory.flatMap(_.get(version.toString))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(schema)

  /** The latest snapshot committed at or before `asOfMs` (the
    * snapshot-as-of-timestamp read), ties broken by id. */
  def snapshotAsOf(asOfMs: Long): Option[Snapshot] =
    snapshots.filter(_.timestampMs <= asOfMs)
      .sortBy(s => (s.timestampMs, s.snapshotId)).lastOption

  /** Schema a snapshot's committed data should be read with under
    * time travel. */
  def schemaForSnapshot(s: Snapshot): StructType =
    schemaAt(s.schemaVersionAt.getOrElse(schemaVersion))

  /** True when a snapshot of this table already carries `loadId` — the
    * idempotence key a replayed load is skipped by. */
  def hasLoad(loadId: String): Boolean = snapshots.exists(_.loadId.contains(loadId))

  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))

  def currentFiles: Seq[DataFile] =
    currentSnapshot.map(_.dataFiles).getOrElse(Nil)

  def currentDeletes: Seq[DeleteFile] =
    currentSnapshot.map(_.deletes).getOrElse(Nil)

  def currentPosDeletes: Seq[PosDeleteFile] =
    currentSnapshot.map(_.posDeletes).getOrElse(Nil)

  /** Paths of every live delete file, equality and positional. */
  def currentDeletePaths: Set[String] =
    (currentDeletes.map(_.path) ++ currentPosDeletes.map(_.path)).toSet

  /** Partition-spec evolution (Iceberg-style): the new spec applies to
    * FUTURE staged files only; files written under older specs keep
    * their old derived stats and are conservatively retained by pruning
    * on the new derived columns (they lack those stats). A new field may
    * not reuse a historical derived-column name unless the whole field
    * (source, transform, param) is identical — otherwise old stats under
    * that name would be re-typed through the new transform. */
  def withPartitionSpec(spec: Seq[PartitionFieldSpec]): TableMetadata = {
    val dupes = spec.groupBy(_.name).filter(_._2.size > 1).keys
    if (dupes.nonEmpty)
      throw new ValidationError(
        s"Duplicate partition field name(s) ${dupes.mkString(", ")} in one spec")
    val historical = (specHistory.getOrElse(Nil) :+ partitionSpec).flatten
    spec.foreach { f =>
      historical.find(h => h.name == f.name && h != f).foreach { h =>
        throw new ValidationError(
          s"Partition field name '${f.name}' was previously " +
            s"${h.transform}(${h.source}) — reusing it as " +
            s"${f.transform}(${f.source}) would corrupt stats pruning; " +
            "pick a fresh name")
      }
      // a derived field may only share a data column's name when it IS
      // that column (identity of itself) — identity(a) named "b" would
      // overwrite b's staged stats with a's values
      if (schema.fields.exists(_.name == f.name) &&
          !(f.transform == "identity" && f.name == f.source))
        throw new ValidationError(
          s"Derived partition field '${f.name}' collides with a data column")
    }
    copy(partitionSpec = spec,
      specHistory = Some(specHistory.getOrElse(Nil) :+ partitionSpec))
  }

  def withSchema(s: StructType): TableMetadata =
    copy(schemaJson = s.json, schemaVersion = schemaVersion + 1,
      schemaHistory = Some(schemaHistory.getOrElse(Map.empty) +
        (schemaVersion.toString -> schemaJson)))

  /** Comparison type for a stats column: table schema first, then the
    * DERIVED type of a partition-transform column (bucket/year → int,
    * day → date epoch, month/hour → string, identity/truncate → source
    * type). */
  def statTypeOf(column: String): Option[DataType] =
    schema.fields.find(_.name == column).map(_.dataType)
      .orElse(partitionSpec.find(_.name == column).flatMap { s =>
        import org.apache.spark.sql.types._
        s.transform match {
          case "bucket" | "year" => Some(IntegerType)
          case "day" => Some(DateType)
          case "month" | "hour" => Some(StringType)
          case _ => schema.fields.find(_.name == s.source).map(_.dataType)
        }
      })

  def nextSnapshotId: Long =
    snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1L

  private def metadataDirPath: java.nio.file.Path =
    java.nio.file.Paths.get(location).resolve("metadata")

  /** Parent manifest refs, materializing refs for legacy snapshot forms
    * (one body read per legacy manifest, paid once — the next snapshot
    * carries refs). Legacy INLINE file lists return no refs; the caller
    * folds those files into its new manifest. */
  private def parentRefsOf(base: Option[Snapshot]): (Seq[ManifestRef], Seq[DataFile]) =
    base match {
      case None => (Nil, Nil)
      case Some(s) => s.resolvedRefs match {
        case Some(refs) => (refs, Nil)
        case None if s.manifests.isDefined =>
          (s.manifests.get.map(ManifestIO.refFor(_, statTypeOf)), Nil)
        case None => (Nil, s.files.getOrElse(Nil))
      }
    }

  /** The snapshot a commit builds on: the branch head when `branch` is
    * given (must exist — see `GraftTable.createBranch`), else the
    * current snapshot. */
  def baseSnapshot(branch: Option[String]): Option[Snapshot] = branch match {
    case None => currentSnapshot
    case Some(b) =>
      val id = refId(b).getOrElse(throw new ValidationError(
        s"No branch '$b' in $identifier — createBranch first"))
      Some(snapshots.find(_.snapshotId == id).getOrElse(
        throw new ValidationError(s"Branch '$b' points at missing snapshot $id")))
  }

  /** Delta commit — THE scale-critical form. Appends a snapshot whose
    * file set is `parent - removedPaths + added`, deciding manifest reuse
    * from snapshot-stored [[ManifestRef]]s alone:
    *
    *  - `removedPaths` empty (append): every parent manifest is carried
    *    by identity — ZERO manifest body reads, even on a cold JVM;
    *  - otherwise (merge): only manifests whose path-bloom matches a
    *    removed path are opened; survivors of partially-hit manifests are
    *    rewritten together with `added` as ONE new manifest.
    *
    * Contract: callers never mutate a live data file in place (our
    * writers only add and remove whole files), so "not removed" implies
    * "unchanged" and reuse-by-identity is sound. */
  def withSnapshotDelta(op: String, loadId: Option[String],
      added: Seq[DataFile], removedPaths: Set[String],
      nowMs: Long = System.currentTimeMillis(),
      newDeletes: Seq[DeleteFile] = Nil,
      clearDeletes: Boolean = false,
      branch: Option[String] = None,
      newPosDeletes: Seq[PosDeleteFile] = Nil): TableMetadata = {
    requireNonNullKeys(added)
    val base = baseSnapshot(branch)
    val (baseRefs, inlineLegacy) = parentRefsOf(base)
    var survivors = Vector.empty[DataFile]
    val kept = baseRefs.filter { ref =>
      val mayBeAffected = removedPaths.nonEmpty &&
        ref.pathBloom.forall(b =>
          removedPaths.exists(KeyBloom.mightContain(b, _)))
      if (!mayBeAffected) true
      else {
        val body = ManifestIO.read(ref.path)
        val keep = body.filterNot(f => removedPaths.contains(f.path))
        if (keep.size == body.size) true // bloom false positive: untouched
        else { survivors ++= keep; false }
      }
    }
    // Stamp this commit's snapshotId as the data sequence of added files;
    // survivors restaged by a CoW rewrite also count as added (their path
    // changed), which is sound because the rewrite applies every
    // outstanding delete before restaging.
    val seqId = nextSnapshotId
    val newFiles =
      inlineLegacy.filterNot(f => removedPaths.contains(f.path)) ++
        survivors ++ added.map(_.copy(seq = Some(seqId)))
    val newRefs = kept ++
      (if (newFiles.nonEmpty)
        Seq(ManifestIO.writeRef(metadataDirPath, newFiles, statTypeOf)) else Nil)
    // a delete targeting an EMPTY parent can never have victims (every
    // data file would be newer) — drop it; decided here so the rule
    // re-evaluates correctly under CAS rebase
    val parentHasData = baseRefs.nonEmpty || inlineLegacy.nonEmpty
    appendSnapshot(op, loadId, mergeSmallManifests(newRefs), nowMs,
      deletes = if (clearDeletes) Nil
        else base.map(_.deletes).getOrElse(Nil) ++
          (if (parentHasData) newDeletes.map(_.copy(seq = seqId)) else Nil),
      branch = branch,
      posDeletes = if (clearDeletes) Nil
        else base.map(_.posDeletes).getOrElse(Nil) ++
          (if (parentHasData) newPosDeletes else Nil))
  }

  /** The staleness rule for every rewrite planned against one snapshot
    * and committed against a later one (this metadata, inside the
    * commit closure): throws when a concurrent commit has invalidated
    * the plan. `planned` is the set of data-file paths the rewrite read.
    * `identical` demands the live file set still EQUAL it (a whole-table
    * rewrite would drop any file added since); otherwise the live set
    * only has to still CONTAIN it (the rewrite replaces just those
    * files, and a restaged file's rows moved to a new path). When
    * `plannedDeletes` is given, the live delete set must equal it: the
    * rewrite computed its rows against those deletes, and its output
    * lands with a newer sequence or new paths, out of reach of any
    * delete that arrived since. */
  def requireNotSuperseded(op: String, planned: Set[String],
      identical: Boolean, plannedDeletes: Option[Set[String]] = None): Unit = {
    val live = currentFiles.iterator.map(_.path).toSet
    val stale =
      if (identical && live != planned) Some("changed the data-file set")
      else if (!planned.subsetOf(live)) Some("rewrote a planned file")
      else if (plannedDeletes.exists(_ != currentDeletePaths))
        Some("changed the merge-on-read delete set")
      else None
    stale.foreach(why => throw new ValidationError(
      s"$op superseded by a concurrent commit that $why; re-run it"))
  }

  /** Manifest merging (the Iceberg merge-manifests idea): one manifest
    * per append makes snapshot k carry k refs, i.e. O(loads²) metadata
    * JSON across a long un-expired history. When a snapshot would exceed
    * [[TableMetadata.MaxManifestsPerSnapshot]] refs, the SMALLEST
    * manifests merge into one (geometric amortization, LSM-style: each
    * file is re-manifested O(log loads) times). Parent snapshots keep
    * referencing the original manifests — time travel is untouched, and
    * expiry collects the originals when their snapshots go. A merging
    * commit reads only the small bodies it merges (bounded by the
    * threshold), so commit cost stays O(delta) amortized. */
  private def mergeSmallManifests(refs: Seq[ManifestRef]): Seq[ManifestRef] =
    if (refs.size <= TableMetadata.MaxManifestsPerSnapshot) refs
    else {
      val sorted = refs.sortBy(_.fileCount)
      val toMerge = sorted.take(refs.size - TableMetadata.TargetManifestsPerSnapshot + 1)
      val keep = sorted.drop(toMerge.size)
      val mergedFiles = toMerge.flatMap(r => ManifestIO.read(r.path))
      keep :+ ManifestIO.writeRef(metadataDirPath, mergedFiles, statTypeOf)
    }

  /** Replace-all commit: the snapshot references ONLY `files` (one fresh
    * manifest, no parent reads — nothing can be reused by construction). */
  /** Replace-all commits clear delete files: the snapshot's whole row set
    * is the new files, so no prior delete can have surviving victims. */
  def withSnapshotReplace(op: String, loadId: Option[String],
      files: Seq[DataFile], nowMs: Long = System.currentTimeMillis(),
      branch: Option[String] = None): TableMetadata = {
    requireNonNullKeys(files)
    appendSnapshot(op, loadId,
      if (files.isEmpty) Nil
      else Seq(ManifestIO.writeRef(metadataDirPath,
        files.map(_.copy(seq = Some(nextSnapshotId))), statTypeOf)),
      nowMs, deletes = Nil, branch = branch)
  }

  /** Commit-time guard for the `graft.primary-key` contract: the V2
    * surface reports key columns non-nullable (`GraftSparkCatalog.v2Table`),
    * so NO commit may add a file whose key stats admit NULLs. Metadata-
    * only (the footer stats every writer already collects); a file with
    * unknown null counts passes — the hard gates are ALTER-time data
    * validation and this best-effort check on every write path. */
  private def requireNonNullKeys(added: Seq[DataFile]): Unit = {
    if (added.isEmpty) return
    for (c <- GraftV2Table.parsePrimaryKey(properties); f <- added)
      if (f.stats.get(c).flatMap(_.nullCount).exists(_ > 0))
        throw new ValidationError(
          s"NULL in primary-key column '$c' (file ${f.path}): " +
            "graft.primary-key columns must be non-null on every write")
  }

  private def appendSnapshot(op: String, loadId: Option[String],
      manifestRefList: Seq[ManifestRef], nowMs: Long,
      deletes: Seq[DeleteFile],
      branch: Option[String] = None,
      posDeletes: Seq[PosDeleteFile] = Nil): TableMetadata = {
    val parent = branch.fold(currentSnapshotId)(refId)
    val entries = manifestRefList.size + deletes.size + posDeletes.size
    val snap =
      if (entries <= TableMetadata.InlineSnapshotEntryMax)
        Snapshot(nextSnapshotId, parent, nowMs, op, loadId,
          manifestRefs = Some(manifestRefList),
          schemaVersionAt = Some(schemaVersion),
          deleteFiles = if (deletes.isEmpty) None else Some(deletes),
          posDeleteFiles = if (posDeletes.isEmpty) None else Some(posDeletes))
      else {
        // externalize the heavy content (see SnapBodyIO): one immutable
        // body file per commit; metadata keeps identity + summary only
        val bp = SnapBodyIO.write(metadataDirPath,
          SnapBody(manifestRefList, deletes, posDeletes))
        Snapshot(nextSnapshotId, parent, nowMs, op, loadId,
          schemaVersionAt = Some(schemaVersion),
          bodyPath = Some(bp),
          summary = Some(SnapSummary(manifestRefList.map(_.rowCount).sum,
            manifestRefList.map(_.fileCount).sum,
            manifestRefList.map(_.sizeBytes).sum)))
      }
    branch match {
      case None =>
        copy(currentSnapshotId = Some(snap.snapshotId), snapshots = snapshots :+ snap)
      case Some(b) =>
        // branch commit: the named ref advances, main does not
        copy(refs = Some(refs.getOrElse(Map.empty) + (b -> snap.snapshotId)),
          snapshots = snapshots :+ snap)
    }
  }

  /** Content-neutral manifest compaction: ONE merged manifest replaces
    * the current snapshot's ref list; every [[DataFile]] entry carries
    * over VERBATIM — in particular its commit sequence, which
    * merge-on-read equality-delete fencing compares against (a
    * re-sequencing rewrite would lift old data files above outstanding
    * deletes and resurrect deleted rows). Outstanding delete files carry
    * unchanged. Read planning over a long-lived table drops from
    * O(refs-since-last-merge) to one manifest open. */
  def withManifestsRewritten(nowMs: Long = System.currentTimeMillis()): TableMetadata = {
    val snap = currentSnapshot.getOrElse(
      throw new ValidationError(s"No current snapshot in $identifier"))
    val ref = ManifestIO.writeRef(metadataDirPath, snap.dataFiles, statTypeOf)
    appendSnapshot("rewrite-manifests", None, Seq(ref), nowMs,
      deletes = snap.deletes, posDeletes = snap.posDeletes)
  }

  /** Flat-list commit (compatibility form): derives the delta against the
    * parent file set, then delegates to [[withSnapshotDelta]]. Reads the
    * parent manifests to diff — callers that already know their delta
    * should use the delta form directly. Content changes to a surviving
    * path are honored (the file is treated as removed + re-added). */
  def withSnapshot(op: String, loadId: Option[String], files: Seq[DataFile],
      nowMs: Long = System.currentTimeMillis()): TableMetadata = {
    val parent = currentFiles
    val byPath = files.map(f => f.path -> f).toMap
    val unchanged = parent.filter(f => byPath.get(f.path).contains(f))
    val unchangedPaths = unchanged.map(_.path).toSet
    val removed = parent.map(_.path).filterNot(unchangedPaths.contains).toSet
    val added = files.filterNot(f => unchangedPaths.contains(f.path))
    withSnapshotDelta(op, loadId, added, removed, nowMs)
  }
}

object TableMetadata {
  /** Ref-count ceiling per snapshot before small manifests merge; the
    * merge shrinks the list to [[TargetManifestsPerSnapshot]]. */
  val MaxManifestsPerSnapshot = 64
  val TargetManifestsPerSnapshot = 32

  /** Combined manifest-ref + delete-file entry count above which a new
    * snapshot externalizes its body ([[SnapBodyIO]]). Below it, inlining
    * is cheaper than an extra file per commit; above it, inline lists
    * re-serialize with every later commit and a trickle history turns
    * quadratic (the delete-backlog bench measured multi-second commits by
    * depth 500 on the inline form). */
  val InlineSnapshotEntryMax = 8

  /** Deletes the per-call staging directories (`<loadId>-<uuid8>` under
    * the table's data or deletes root, Spark's sidecar files included)
    * holding `staged`, staged files or those directories themselves.
    * Only for output no snapshot references; [[GraftTable.commit]] is
    * its owner. */
  def discardStaged(t: GraftTable, staged: Seq[String]): Unit = {
    val roots = Seq(t.dataDir, t.dir.resolve("deletes"))
    staged.map(java.nio.file.Paths.get(_)).flatMap(p =>
      roots.find(p.startsWith).map(r => r.resolve(r.relativize(p).getName(0))))
      .distinct.foreach(PathIO.deleteQuietly)
  }

  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def toJson(m: TableMetadata): String =
    JsonMethods.pretty(Extraction.decompose(m))

  def fromJson(json: String): TableMetadata =
    JsonMethods.parse(json).extract[TableMetadata]

  def create(identifier: String, location: String, schema: StructType,
      spec: Seq[PartitionFieldSpec], properties: Map[String, String]): TableMetadata =
    TableMetadata(
      formatVersion = 1,
      identifier = identifier,
      location = location,
      schemaJson = schema.json,
      schemaVersion = 1,
      partitionSpec = spec,
      properties = properties,
      currentSnapshotId = None,
      snapshots = Nil)
}
