package graft.write

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog._
import graft.cast.SafeCast
import graft.partition.{PartitionHint, Transforms}
import graft.schema.SchemaEvolution
import graft.types.TypeLattice
import graft.write.Stager.canonicalKey

/** Write dispositions (SURVEY §2.7 D1-D7). */
sealed trait Disposition
case object Append extends Disposition
case object Replace extends Disposition
/** strategy: "upsert" (default for plain merge) or "delete-insert"
  * (`_get_merge_strategy`, `destination_client.py:1152-1168`). */
final case class Merge(strategy: String = "upsert") extends Disposition

final case class WriteConfig(
    primaryKey: Seq[String] = Nil,
    /** Fallback merge keys when no primary key is declared — the
      * reference's `x-merge-keys` hint (D7 resolution order,
      * `destination_client.py:1389-1397`). */
    mergeKeys: Seq[String] = Nil,
    /** Upsert batch size in the reference (`merge_batch_size`, default
      * 500000, `destination_client.py:154-155`) existed to bound DRIVER
      * memory when slicing Arrow tables; the distributed anti-join
      * formulation has no such bound to enforce, so this is accepted for
      * compatibility and intentionally unused (SURVEY W3). */
    mergeBatchSize: Int = 500000,
    /** Columns created as required (non-nullable). Everything else defaults
      * to nullable on table creation, mirroring the reference where
      * nullability comes from dlt hints and defaults to nullable
      * (`schema_converter.py:62-64`) — Spark's non-nullable inference from
      * Scala primitives is not a user intent signal. */
    requiredColumns: Set[String] = Set.empty,
    partitions: Seq[PartitionHint] = Nil,
    hardDeleteColumn: String = "_dlt_deleted_at",
    strictCasting: Boolean = true,
    allowColumnDrops: Boolean = false,
    location: Option[String] = None,
    maxRetries: Int = 5,
    backoffBase: Double = 2.0,
    retryUnitMs: Long = 1000L,
    /** Range-cluster merge-table staging by primary key so per-file key
      * ranges stay narrow and merge pruning is tight. */
    clusterByKeys: Boolean = true,
    /** Columns to build per-file KeyBloom membership filters for —
      * decisive for point lookups on random (UUID) keys where min/max
      * range pruning degenerates to a full scan. */
    bloomColumns: Seq[String] = Nil,
    /** Columns to build per-file HLL distinct sketches for (CBO NDV
      * that survives appends/compaction without rescans — see
      * [[GraftWriter.SketchColumnsProperty]]). */
    sketchColumns: Seq[String] = Nil,
    /** Upper bound on rows per staged parquet file (0 = off) — the
      * write.target-file-size analogue; keeps huge loads from emitting
      * files that defeat split planning. */
    maxRecordsPerFile: Long = 0L,
    /** Write-audit-publish: commit this load onto a named branch
      * (created via `GraftTable.createBranch`) instead of main — main
      * readers see nothing until `publish(branch)` fast-forwards.
      * Supported for append, replace, and merge-on-read merges; a
      * copy-on-write merge to a branch is rejected (its affected-file
      * planning reads main state). */
    toBranch: Option[String] = None,
    /** Merge-on-read (Iceberg v2 equality deletes): merge commits write
      * the staged batch plus ONE tiny delete-key file instead of
      * rewriting every key-affected data file — O(batch) write cost per
      * trickle merge instead of O(affected files), the write-amplification
      * fix for streaming upserts. Reads apply deletes via broadcast
      * anti-join ([[graft.catalog.MorRead]]); compaction applies them
      * physically. Copy-on-write (the default) keeps scans join-free. */
    mergeOnRead: Boolean = false)

/** The disposition engine — the Spark-native rebuild of
  * `_commit_table_files` (`destination_client.py:1256-1520`).
  *
  * All merge variants are formulated as *anti-join + union snapshot
  * rewrites* instead of the reference's enumerated Or/And delete filters
  * (`merge_utils.py:26-42`), which explode on composite keys; the
  * anti-join shuffles at most the *affected* file subset, chosen via
  * min/max key stats, and untouched files carry into the new snapshot as
  * metadata only — the scalable equivalent of Iceberg's file-level delete
  * pushdown.
  */
final class GraftWriter(catalog: GraftCatalog) {
  import GraftWriter.MaxBloomProbeKeys

  def spark: SparkSession = catalog.spark

  /** Commit one table's batches for one load as ONE snapshot (two for
    * upsert+hard-delete, matching the reference's separate transactions,
    * `destination_client.py:1437-1441`). */
  def writeTable(ns: String, name: String, batches: Seq[DataFrame],
      disposition: Disposition, cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): GraftTable = {
    require(batches.nonEmpty, "no batches to write")

    val incomingSchema = org.apache.spark.sql.types.StructType(
      TypeLattice.normalize(batches.head.schema).fields.map(f =>
        f.copy(nullable = !cfg.requiredColumns.contains(f.name))))
    val exists = catalog.tableExists(ns, name)
    var created = false
    val t =
      if (!exists) {
        val spec = Transforms.buildSpec(cfg.partitions, incomingSchema)
        // bloom columns persist as a table property so EVERY writer of
        // this table — later loads, compaction — keeps rebuilding the
        // membership stats (a compacted file without its bloom silently
        // degrades point lookups back to full scans)
        val props =
          (if (cfg.bloomColumns.isEmpty) Map.empty[String, String]
           else Map(GraftWriter.BloomColumnsProperty ->
             cfg.bloomColumns.mkString(","))) ++
          (if (cfg.sketchColumns.isEmpty) Map.empty[String, String]
           else Map(GraftWriter.SketchColumnsProperty ->
             cfg.sketchColumns.mkString(",")))
        try {
          val nt = catalog.createTable(ns, name, incomingSchema, spec,
            props, cfg.location)
          created = true
          nt
        } catch {
          // two writers racing the FIRST load of a shared table: create
          // is CAS on v1.metadata.json, so exactly one wins — the loser
          // proceeds against the winner's table exactly as if it had
          // existed all along (evolution + CAS-retried commit)
          case _: graft.catalog.TableAlreadyExistsError =>
            catalog.loadTable(ns, name)
        }
      } else catalog.loadTable(ns, name)

    // Schema evolution before cast (destination_client.py:1341-1348)
    if (!created) {
      val evo = SchemaEvolution.evolve(t.metadata.schema, incomingSchema,
        cfg.allowColumnDrops)
      if (evo.evolved)
        t.commit(_.withSchema(evo.schema), cfg.maxRetries, cfg.backoffBase,
          cfg.retryUnitMs)
    }

    val m0 = t.metadata
    val target = m0.schema
    // Cast every batch to the table schema (C4-C5) and union —
    // `pa.concat_tables` (destination_client.py:1354-1367), distributed.
    val combined = batches.map(SafeCast(_, target, cfg.strictCasting))
      .reduce(_ unionByName _)

    disposition match {
      case Append => commitAppend(t, m0, combined, loadId, cfg)
      case Replace => commitReplace(t, m0, combined, loadId, cfg)
      case Merge(strategy) =>
        // D7 key resolution: primary_key, else x-merge-keys; neither ⇒
        // fall back to append (destination_client.py:1389-1403)
        val keys = if (cfg.primaryKey.nonEmpty) cfg.primaryKey else cfg.mergeKeys
        if (keys.isEmpty) commitAppend(t, m0, combined, loadId, cfg)
        else commitMerge(t, m0, combined, keys, strategy, loadId, cfg)
    }
    t
  }

  private def commitAppend(t: GraftTable, m: TableMetadata, df: DataFrame,
      loadId: String, cfg: WriteConfig): Unit = {
    val staged = Stager.stage(df, t.dataDir, loadId, m.partitionSpec,
      bloomColumns = GraftWriter.bloomColumns(m, cfg),
      sketchColumns = GraftWriter.sketchColumns(m, cfg),
      maxRecordsPerFile = cfg.maxRecordsPerFile,
      sortBy = GraftWriter.tableSortOrder(m))
    // delta commit: parent manifests carry by identity — zero manifest
    // body reads even on a cold JVM (the cost every load pays)
    t.commit(fresh => fresh.withSnapshotDelta("append", Some(loadId),
      staged, Set.empty, branch = cfg.toBranch),
      cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
    // trickle appends leave one small file per commit — the opt-in
    // self-compaction hook bounds the population (branch writes skip:
    // compact reads main state)
    if (cfg.toBranch.isEmpty) Maintenance.autoCompactIfNeeded(t, cfg.retryUnitMs)
  }

  private def commitReplace(t: GraftTable, m: TableMetadata, df: DataFrame,
      loadId: String, cfg: WriteConfig): Unit = {
    val staged = Stager.stage(df, t.dataDir, loadId, m.partitionSpec,
      bloomColumns = GraftWriter.bloomColumns(m, cfg),
      sketchColumns = GraftWriter.sketchColumns(m, cfg),
      maxRecordsPerFile = cfg.maxRecordsPerFile,
      sortBy = GraftWriter.tableSortOrder(m))
    // truncate-and-insert: snapshot references ONLY the new files; old
    // files stay on disk for time travel (S6)
    t.commit(fresh => fresh.withSnapshotReplace("overwrite", Some(loadId), staged,
      branch = cfg.toBranch), cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
  }

  private def commitMerge(t: GraftTable, m: TableMetadata, combined: DataFrame,
      pks: Seq[String], strategy: String, loadId: String, cfg: WriteConfig): Unit = {
    if (cfg.toBranch.isDefined && !cfg.mergeOnRead)
      throw new ValidationError(
        "Copy-on-write merge to a branch is not supported: its affected-file " +
          "planning reads main state. Use mergeOnRead = true for branch merges.")
    val hasMarker = combined.schema.fieldNames.contains(cfg.hardDeleteColumn)

    // Hard-delete split (P3, `_prepare_hard_deletes`,
    // destination_client.py:1214-1254)
    val (remaining, hardDeleted) =
      if (hasMarker)
        (combined.filter(col(cfg.hardDeleteColumn).isNull),
          combined.filter(col(cfg.hardDeleteColumn).isNotNull))
      else (combined, null)

    if (hasMarker && remaining.isEmpty) {
      // all-deletes fast path (destination_client.py:1412-1417)
      val delKeys = hardDeleted.select(pks.map(col): _*).distinct()
      if (cfg.mergeOnRead) morCommit(t, delKeys, pks, Nil, "delete", loadId, cfg)
      else rewriteCommit(t, delKeys, pks, Nil, "delete", loadId, cfg)
      return
    }

    strategy match {
      case "delete-insert" =>
        // ONE atomic commit: hard-deletes + PK deletes + insert
        // (`_execute_delete_insert`, destination_client.py:1170-1212).
        // Removal key set = every PK in the batch (marked rows hard-delete,
        // unmarked rows are replaced by their new versions).
        val delKeys = combined.select(pks.map(col): _*).distinct()
        val staged = Stager.stage(remaining, t.dataDir, loadId, m.partitionSpec,
          if (cfg.clusterByKeys) pks else Nil, GraftWriter.bloomColumns(m, cfg),
          GraftWriter.sketchColumns(m, cfg), cfg.maxRecordsPerFile)
        if (cfg.mergeOnRead)
          morCommit(t, delKeys, pks, staged, "delete-insert", loadId, cfg)
        else rewriteCommit(t, delKeys, pks, staged, "delete-insert", loadId, cfg)

      case _ => // upsert (default)
        // FUSED dup check + key staging (r15, guide §1.2 "remove passes"):
        // the distinct key set is staged ONCE as a parquet file whose
        // footer already carries rowCount (= distinct key count) and
        // per-column min/max — the numbers the old grouped-aggregate job
        // (2 Spark jobs per commit) existed to collect. The duplicate-PK
        // contract needs no per-key count at all: the batch holds a
        // duplicate iff staged batch rows > distinct keys, and both are
        // footer row counts the two staging passes produce for free. For
        // merge-on-read the key file IS the commit's equality-delete file
        // (what morCommit used to stage a second time); for copy-on-write
        // it is a scratch file the rewrite reads as a leaf (no lineage to
        // re-plan, no localCheckpoint), deleted after the commit.
        val mNow = t.metadata
        val keyDf = remaining.select(pks.map(col): _*).distinct()
        val keyScratch: Option[java.nio.file.Path] =
          if (cfg.mergeOnRead) None
          else Some(java.nio.file.Files.createTempDirectory("graft-keys-"))
        try {
          // MoR delete files stay single-file (trickle-sized by design,
          // broadcast on read); CoW scratch keys keep the write parallel —
          // a bulk upsert's key projection must not serialize on one task
          val keyStaged = graft.JobDesc(spark, s"graft.merge:keys $loadId") {
            Stager.stage(
              if (cfg.mergeOnRead) keyDf.coalesce(1) else keyDf,
              keyScratch.getOrElse(t.dir.resolve("deletes")), loadId)
          }
          val keyCount = keyStaged.map(_.rowCount).sum
          // after the dup check, upsert rows == distinct keys: a batch
          // small enough to land in one staged file gains nothing from
          // range clustering (one file's [min,max] IS the batch range) —
          // skip the range-sampling pass + shuffle it would cost
          val clusterBy =
            if (cfg.clusterByKeys && keyCount > GraftWriter.SmallBatchNoClusterRows)
              pks
            else Nil
          val staged = Stager.stage(remaining, t.dataDir, loadId,
            mNow.partitionSpec, clusterBy,
            GraftWriter.bloomColumns(mNow, cfg),
            GraftWriter.sketchColumns(mNow, cfg), cfg.maxRecordsPerFile)
          if (staged.map(_.rowCount).sum > keyCount) {
            // nothing references the staged batch (nor, under MoR, the
            // key file): drop their staging directories, Spark's sidecar
            // files included, instead of leaving them to vacuum
            def stageDirs(fs: Seq[DataFile], root: java.nio.file.Path) =
              fs.map(f => java.nio.file.Paths.get(f.path))
                .filter(_.startsWith(root))
                .map(p => root.resolve(root.relativize(p).getName(0)))
            (stageDirs(staged, t.dataDir) ++
              (if (cfg.mergeOnRead)
                stageDirs(keyStaged, t.dir.resolve("deletes"))
              else Nil)).distinct.foreach(GraftWriter.deleteQuietly)
            throw new ValidationError(
              s"Upsert batch contains duplicate primary keys on (${pks.mkString(", ")})")
          }

          // hard deletes AFTER the dup check (a duplicate batch must
          // commit NOTHING — its staged files are deleted above)
          // and BEFORE the upsert, as a separate commit (separate
          // PyIceberg transaction in the reference,
          // destination_client.py:1438-1441).
          // Replay safety: a crash between this sub-commit and the main
          // commit makes exactly-once callers (StreamingLoader) re-run the
          // whole load under the same loadId — an already-present
          // sub-loadId must not commit twice, or the snapshot ledger gains
          // a duplicate entry (content-idempotent but ledger-corrupting)
          if (hasMarker && !hardDeleted.isEmpty) {
            val hdId = loadId + "-hd"
            val alreadyHd =
              t.metadata.snapshots.exists(_.loadId.contains(hdId))
            if (!alreadyHd) {
              val delKeys = hardDeleted.select(pks.map(col): _*).distinct()
              if (cfg.mergeOnRead)
                morCommit(t, delKeys, pks, Nil, "delete", hdId, cfg)
              else rewriteCommit(t, delKeys, pks, Nil, "delete", hdId, cfg)
            }
          }
          if (cfg.mergeOnRead)
            morCommitStaged(t,
              keyStaged.map(f => DeleteFile(f.path, pks, f.rowCount, 0L, f.stats)),
              staged, "upsert", loadId, cfg)
          else {
            val keySchema = org.apache.spark.sql.types.StructType(
              pks.map(pk => remaining.schema(pk)))
            val keys =
              if (keyStaged.isEmpty) // empty batch: no key files written
                spark.createDataFrame(
                  new java.util.ArrayList[org.apache.spark.sql.Row](), keySchema)
              else spark.read.schema(keySchema)
                .parquet(keyStaged.map(_.path): _*)
            rewriteCommit(t, keys, pks, staged, "upsert", loadId, cfg,
              precomputed = GraftWriter.rangesFromStats(keyStaged, pks, keySchema)
                .map(rs => (rs, keyCount)))
          }
        } finally keyScratch.foreach(GraftWriter.deleteQuietly)
    }
  }

  /** `DELETE FROM <table> WHERE <cond>` — predicate deletes with NO
    * primary-key requirement, in either mode:
    *
    *  - merge-on-read: scan the current files once, record the matching
    *    (file path, row index) pairs as ONE positional-delete file
    *    (Iceberg delete vector), commit — no data rewrite; reads apply
    *    the positions via broadcast anti-join.
    *  - copy-on-write: restage only the files that actually contain
    *    matching rows (row-level attribution via `_metadata`), carrying
    *    untouched files as metadata.
    *
    * Outstanding MoR deletes are honored in both modes. Returns the
    * number of deleted rows. */
  def deleteWhere(ns: String, name: String, cond: org.apache.spark.sql.Column,
      cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): Long = {
    require(cfg.toBranch.isEmpty,
      "predicate deletes target main state; branch deletes are not supported")
    val t = catalog.loadTable(ns, name)
    val m = t.metadata
    val files = m.currentFiles
    if (files.isEmpty) return 0L
    val snap = m.currentSnapshot
    // materialize row attribution BEFORE delete application: `_metadata`
    // resolves only on the scan relation itself, and MorRead's joins
    // would hide it
    val scan = spark.read.schema(m.schema).parquet(files.map(_.path): _*)
      .withColumn("__dw_path",
        graft.catalog.MorRead.posixPath(col("_metadata.file_path")))
      .withColumn("__dw_idx", col("_metadata.row_index"))
    val liveRows = MorRead.applyDeletes(spark, scan, files,
      snap.map(_.deletes).getOrElse(Nil), snap.map(_.posDeletes).getOrElse(Nil))

    // one cached pass over the delete-applied scan serves BOTH the
    // per-file attribution and (in MoR mode) the vector write
    val matchPos = liveRows.filter(cond)
      .select(col("__dw_path"), col("__dw_idx")).cache()
    try {
    val hitPaths = matchPos
      .groupBy(col("__dw_path")).agg(count(lit(1)).as("n")).collect()
    if (hitPaths.isEmpty) return 0L
    val targetPaths = hitPaths.map(_.getString(0)).toSet
    val deleted = hitPaths.map(_.getAs[Long]("n")).sum
    // the planned positions/attribution bind to the snapshot this scan
    // read: if a concurrent commit rewrote any target file, the plan is
    // stale (its rows moved to a new path) — refuse instead of silently
    // losing the delete, matching the compaction guards
    // targetPaths came through posixPath (decoded) — canonicalize the
    // metadata side identically, or an Iceberg-imported file whose
    // stored path carries percent escapes would mis-compare
    def requireTargetsLive(fresh: TableMetadata): Unit =
      if (!targetPaths.subsetOf(
          fresh.currentFiles.map(f => MorRead.posixPath(f.path)).toSet))
        throw new ValidationError(
          "deleteWhere superseded by a concurrent rewrite of a target file")

    if (cfg.mergeOnRead) {
      // matching row positions -> ONE delete-vector parquet; no rewrite
      val dest = t.dir.resolve("deletes")
        .resolve(s"$loadId-pos-${java.util.UUID.randomUUID().toString.take(8)}")
      matchPos
        .select(col("__dw_path").as("file_path"),
          col("__dw_idx").as("row_index"))
        .coalesce(1).write.parquet(dest.toString)
      val posFiles = graft.catalog.PathIO.walk(dest)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => PosDeleteFile(p.toString, deleted))
      // the planned positions (and the returned count) bind to the
      // planning snapshot's delete set; a concurrent MoR delete would
      // make both stale — refuse, same rule as updateWhere
      val plannedDeletes = (snap.map(_.deletes).getOrElse(Nil).map(_.path) ++
        snap.map(_.posDeletes).getOrElse(Nil).map(_.path)).toSet
      t.commit({ fresh =>
        requireTargetsLive(fresh)
        if ((fresh.currentSnapshot.map(_.deletes).getOrElse(Nil).map(_.path) ++
            fresh.currentSnapshot.map(_.posDeletes).getOrElse(Nil).map(_.path))
            .toSet != plannedDeletes)
          throw new ValidationError(
            "deleteWhere superseded by a concurrent merge-on-read delete")
        fresh.withSnapshotDelta("delete", Some(loadId), Nil,
          Set.empty, newPosDeletes = posFiles)
      }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
      Maintenance.autoApplyIfNeeded(t, cfg.retryUnitMs)
      Maintenance.autoCompactIfNeeded(t, cfg.retryUnitMs)
      deleted
    } else {
      // copy-on-write: restage ONLY the files with matching rows. The
      // closure recomputes against post-rebase state, so the returned
      // count is recomputed there too (a concurrent MoR delete may have
      // already removed some planned matches).
      var committedCount = deleted
      t.commit({ fresh =>
        requireTargetsLive(fresh)
        val affected = fresh.currentFiles.filter(f => targetPaths.contains(f.path))
        val affectedDf = spark.read.schema(fresh.schema)
          .parquet(affected.map(_.path): _*)
        // persisted: the matched count and the staged rewrite both scan
        // it — one read of the affected files, not two
        val live = MorRead.applyDeletes(spark, affectedDf, affected,
            fresh.currentSnapshot.map(_.deletes).getOrElse(Nil),
            fresh.currentSnapshot.map(_.posDeletes).getOrElse(Nil))
          .persist()
        try {
          committedCount = live.filter(coalesce(cond, lit(false))).count()
          // three-valued logic: a NULL condition must KEEP the row
          // (it did not match the delete predicate) — bare !cond would
          // silently drop it
          val kept = live.filter(!coalesce(cond, lit(false)))
          val staged = Stager.stage(kept, t.dataDir, s"$loadId-dw",
            fresh.partitionSpec,
            bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
            sketchColumns = GraftWriter.sketchColumns(fresh, cfg))
          fresh.withSnapshotDelta("delete", Some(loadId), staged, targetPaths)
        } finally live.unpersist()
      }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
      committedCount
    }
    } finally matchPos.unpersist()
  }

  /** Filter overwrite (Iceberg's overwrite-by-filter; reached from SQL
    * `INSERT INTO ... REPLACE WHERE`, `INSERT OVERWRITE ... PARTITION
    * (p = v)`, and `DataFrameWriterV2.overwrite(cond)`): ONE snapshot
    * that removes every row matching `cond` and appends `batch`. Only
    * the files containing matching rows are restaged (row attribution
    * via `_metadata`, exactly the deleteWhere planning); untouched files
    * carry by identity, so a partition-scoped overwrite of a 100 TB
    * table rewrites one partition, not the table. Outstanding
    * merge-on-read deletes over the affected files are applied
    * physically in the restage. */
  def overwriteWhere(ns: String, name: String, cond: org.apache.spark.sql.Column,
      batch: DataFrame, cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): Unit =
    overwriteWhereImpl(ns, name, cond, batch, cfg, loadId, () => ())

  /** [[overwriteWhere]] with a post-planning seam: `afterPlanning` runs
    * after the target-file attribution and before the commit — the
    * concurrency specs use it to land a conflicting commit exactly
    * inside the planning/commit window (production calls pass a no-op). */
  private[graft] def overwriteWhereImpl(ns: String, name: String,
      cond: org.apache.spark.sql.Column,
      batch: DataFrame, cfg: WriteConfig,
      loadId: String, afterPlanning: () => Unit): Unit = {
    require(cfg.toBranch.isEmpty,
      "filter overwrite targets main state; branch overwrites are not supported")
    val t = catalog.loadTable(ns, name)
    // same evolution-then-cast order as writeTable (C8/C5)
    val incomingSchema = org.apache.spark.sql.types.StructType(
      TypeLattice.normalize(batch.schema).fields.map(f =>
        f.copy(nullable = !cfg.requiredColumns.contains(f.name))))
    val evo = SchemaEvolution.evolve(t.metadata.schema, incomingSchema,
      cfg.allowColumnDrops)
    if (evo.evolved)
      t.commit(_.withSchema(evo.schema), cfg.maxRetries, cfg.backoffBase,
        cfg.retryUnitMs)
    val m = t.metadata
    val cast = SafeCast(batch, m.schema, cfg.strictCasting)
    val files = m.currentFiles
    val snap = m.currentSnapshot
    // row attribution before delete application (deleteWhere's planning)
    val targetPaths: Set[String] =
      if (files.isEmpty) Set.empty
      else {
        val scan = spark.read.schema(m.schema).parquet(files.map(_.path): _*)
          .withColumn("__ow_path",
            graft.catalog.MorRead.posixPath(col("_metadata.file_path")))
        val live = MorRead.applyDeletes(spark, scan, files,
          snap.map(_.deletes).getOrElse(Nil),
          snap.map(_.posDeletes).getOrElse(Nil))
        live.filter(cond).select(col("__ow_path")).distinct()
          .collect().map(_.getString(0)).toSet
      }
    val plannedPaths = files.map(_.path).toSet
    afterPlanning()
    t.commit({ fresh =>
      if (!targetPaths.subsetOf(fresh.currentFiles.map(_.path).toSet))
        throw new ValidationError(
          "overwriteWhere superseded by a concurrent rewrite of a target file")
      // Serializable overwrite-by-filter (Iceberg's validate-added-files
      // rule): a concurrent commit that landed files AFTER planning may
      // hold rows matching `cond`; committing without replacing them
      // would leave a state no serial order explains (the overwrite
      // snapshot is the LATER one, so those rows must be replaced).
      // Re-attribute just the newcomers — exact, no stats reasoning, and
      // free on the conflict-less first attempt (newcomers is empty).
      val newcomers = fresh.currentFiles
        .filterNot(f => plannedPaths.contains(f.path))
      val extraTargets: Set[String] =
        if (newcomers.isEmpty) Set.empty
        else {
          val scan = spark.read.schema(fresh.schema)
            .parquet(newcomers.map(_.path): _*)
            .withColumn("__ow_path",
              graft.catalog.MorRead.posixPath(col("_metadata.file_path")))
          val live = MorRead.applyDeletes(spark, scan, newcomers,
            fresh.currentSnapshot.map(_.deletes).getOrElse(Nil),
            fresh.currentSnapshot.map(_.posDeletes).getOrElse(Nil))
          live.filter(cond).select(col("__ow_path")).distinct()
            .collect().map(_.getString(0)).toSet
        }
      val allTargets = targetPaths ++ extraTargets
      val newStaged = Stager.stage(cast, t.dataDir, loadId,
        fresh.partitionSpec, bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
            sketchColumns = GraftWriter.sketchColumns(fresh, cfg))
      if (allTargets.isEmpty)
        fresh.withSnapshotDelta("overwrite", Some(loadId), newStaged, Set.empty)
      else {
        val affected = fresh.currentFiles.filter(f => allTargets.contains(f.path))
        val affectedDf = spark.read.schema(fresh.schema)
          .parquet(affected.map(_.path): _*)
        val live = MorRead.applyDeletes(spark, affectedDf, affected,
          fresh.currentSnapshot.map(_.deletes).getOrElse(Nil),
          fresh.currentSnapshot.map(_.posDeletes).getOrElse(Nil))
        // NULL condition keeps the row (it did not match the overwrite
        // predicate) — same three-valued rule as deleteWhere
        val kept = live.filter(!coalesce(cond, lit(false)))
        val keptStaged = Stager.stage(kept, t.dataDir, s"$loadId-ow",
          fresh.partitionSpec,
          bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
            sketchColumns = GraftWriter.sketchColumns(fresh, cfg))
        fresh.withSnapshotDelta("overwrite", Some(loadId),
          keptStaged ++ newStaged, allTargets)
      }
    }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
    ()
  }

  /** Dynamic partition overwrite (Hive/Iceberg `INSERT OVERWRITE` with
    * `partitionOverwriteMode=dynamic`): ONE snapshot that replaces
    * exactly the partitions PRESENT IN THE BATCH and leaves every other
    * partition untouched — the recurring-backfill shape at 100 TB (the
    * day being reloaded is replaced; nothing else is read or written).
    *
    * The value-exact staging layout is what makes the removal set exact
    * metadata work: every live file carries single-valued derived
    * partition stats, so "files in an overwritten partition" is a stat
    * comparison, never a data read. Files from an older spec vintage
    * (missing derived stats) cannot be attributed and make the
    * operation refuse loudly rather than leave stale rows behind.
    * An unpartitioned table degenerates to Replace (Hive semantics). */
  def overwriteDynamic(ns: String, name: String, batch: DataFrame,
      cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): Unit = {
    require(cfg.toBranch.isEmpty,
      "dynamic overwrite targets main state; branch writes are not supported")
    val t = catalog.loadTable(ns, name)
    if (t.metadata.partitionSpec.isEmpty) {
      writeTable(ns, name, Seq(batch), Replace, cfg, loadId)
      return
    }
    // evolution-then-cast, same order as writeTable
    val incomingSchema = org.apache.spark.sql.types.StructType(
      TypeLattice.normalize(batch.schema).fields.map(f =>
        f.copy(nullable = !cfg.requiredColumns.contains(f.name))))
    val evo = SchemaEvolution.evolve(t.metadata.schema, incomingSchema,
      cfg.allowColumnDrops)
    if (evo.evolved)
      t.commit(_.withSchema(evo.schema), cfg.maxRetries, cfg.backoffBase,
        cfg.retryUnitMs)
    val cast = SafeCast(batch, t.metadata.schema, cfg.strictCasting)
    def tupleOf(f: DataFile, spec: Seq[PartitionFieldSpec]): Option[Seq[String]] = {
      val vals = spec.map(s => f.stats.get(s.name).flatMap(st =>
        if (st.min == st.max) st.min else None))
      if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
    }
    // Evolved-spec degradation: files written under an OLDER spec carry
    // no derived stats for the current spec's fields, so the pure-
    // metadata removal set cannot attribute them. Instead of refusing,
    // convert the batch's partition tuples to a row predicate (the SAME
    // transform expressions the writer clusters by) and route through
    // overwriteWhere, which attributes files by scanning actual rows —
    // old-vintage files holding matching rows are restaged minus those
    // rows, non-matching ones survive by path. The closure's orphan
    // refusal below remains as the backstop for an old-vintage file
    // committed concurrently AFTER this check.
    locally {
      val mNow = t.metadata
      val specNow = mNow.partitionSpec
      if (mNow.currentFiles.exists(f => tupleOf(f, specNow).isEmpty)) {
        val exprs = specNow.map(s => graft.partition.Transforms.expression(
          s, mNow.schema(s.source).dataType))
        val tuples = cast.select(exprs.zipWithIndex.map { case (e, i) =>
          e.as(s"__gf_t$i") }: _*).distinct().collect()
        val cond = tuples.map { r =>
          exprs.zipWithIndex.map { case (e, i) =>
            if (r.isNullAt(i)) e.isNull else e === lit(r.get(i))
          }.reduce(_ && _)
        }.reduceOption(_ || _).getOrElse(lit(false))
        overwriteWhere(ns, name, cond, batch, cfg, loadId)
        return
      }
    }
    t.commit({ fresh =>
      val spec = fresh.partitionSpec
      val staged = Stager.stage(cast, t.dataDir, loadId, spec,
        bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
            sketchColumns = GraftWriter.sketchColumns(fresh, cfg))
      val stagedTuples = staged.flatMap(tupleOf(_, spec)).toSet
      require(staged.isEmpty || stagedTuples.nonEmpty,
        "staged files must carry value-exact partition stats")
      val (attributed, orphaned) = fresh.currentFiles
        .map(f => f -> tupleOf(f, spec))
        .partition(_._2.isDefined)
      if (orphaned.nonEmpty)
        throw new ValidationError(
          s"dynamic overwrite cannot attribute ${orphaned.size} file(s) to " +
            s"a partition tuple (older spec vintage, e.g. " +
            s"${orphaned.head._1.path}); compact/restage first or use " +
            "REPLACE WHERE with an explicit predicate")
      val removed = attributed.collect {
        case (f, Some(tu)) if stagedTuples.contains(tu) => f.path
      }.toSet
      fresh.withSnapshotDelta("overwrite", Some(loadId), staged, removed)
    }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
    ()
  }

  /** `UPDATE <table> SET ... WHERE <cond>` — predicate updates with no
    * primary-key requirement:
    *
    *  - copy-on-write: restage only the files with matching rows, with
    *    the SET expressions applied in place (`when(cond, set)` per
    *    column — no join);
    *  - merge-on-read: commit the updated matching rows as a NEW data
    *    file plus a positional delete vector over their old positions —
    *    one commit, no rewrite of existing files.
    *
    * SET expressions are cast to the column's committed type. Returns
    * the number of updated rows. */
  def updateWhere(ns: String, name: String, cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): Long = {
    require(cfg.toBranch.isEmpty,
      "predicate updates target main state; branch updates are not supported")
    val t = catalog.loadTable(ns, name)
    val m = t.metadata
    val files = m.currentFiles
    if (files.isEmpty) return 0L
    set.keys.foreach(k => require(m.schema.fieldNames.contains(k),
      s"SET column $k not in table schema"))
    val snap = m.currentSnapshot
    val scan = spark.read.schema(m.schema).parquet(files.map(_.path): _*)
      .withColumn("__dw_path",
        graft.catalog.MorRead.posixPath(col("_metadata.file_path")))
      .withColumn("__dw_idx", col("_metadata.row_index"))
    val liveRows = MorRead.applyDeletes(spark, scan, files,
      snap.map(_.deletes).getOrElse(Nil), snap.map(_.posDeletes).getOrElse(Nil))

    val hitPaths = liveRows.filter(cond)
      .groupBy(col("__dw_path")).agg(count(lit(1)).as("n")).collect()
    if (hitPaths.isEmpty) return 0L
    val targetPaths = hitPaths.map(_.getString(0)).toSet
    val updated = hitPaths.map(_.getAs[Long]("n")).sum
    // same canonicalization symmetry note as deleteWhere's guard
    def requireTargetsLive(fresh: TableMetadata): Unit =
      if (!targetPaths.subsetOf(
          fresh.currentFiles.map(f => MorRead.posixPath(f.path)).toSet))
        throw new ValidationError(
          "updateWhere superseded by a concurrent rewrite of a target file")
    def applySet(schema: org.apache.spark.sql.types.StructType,
        onlyWhen: Option[org.apache.spark.sql.Column]) =
      schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(e) =>
            val cast = e.cast(f.dataType)
            onlyWhen.fold(cast)(c => when(c, cast).otherwise(col(f.name)))
              .as(f.name)
          case None => col(f.name)
        }
      }

    if (cfg.mergeOnRead) {
      // updated rows -> new data file; old positions -> delete vector.
      // Cache the matches: they feed BOTH the staged write and the
      // vector write, and recomputing means re-running the whole
      // delete-applied scan.
      val matches = liveRows.filter(cond).cache()
      try {
        val staged = Stager.stage(
          matches.select(applySet(m.schema, None): _*),
          t.dataDir, s"$loadId-up", m.partitionSpec,
          bloomColumns = GraftWriter.bloomColumns(m, cfg),
      sketchColumns = GraftWriter.sketchColumns(m, cfg))
        val dest = t.dir.resolve("deletes")
          .resolve(s"$loadId-pos-${java.util.UUID.randomUUID().toString.take(8)}")
        matches.select(col("__dw_path").as("file_path"),
            col("__dw_idx").as("row_index"))
          .coalesce(1).write.parquet(dest.toString)
        val posFiles = graft.catalog.PathIO.walk(dest)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => PosDeleteFile(p.toString, updated))
        // the staged rows were computed against THIS delete set; a
        // concurrent MoR delete would no longer fence them (they commit
        // with a newer sequence) — refuse the stale restage, same rule
        // as compaction
        val plannedDeletes = (snap.map(_.deletes).getOrElse(Nil).map(_.path) ++
          snap.map(_.posDeletes).getOrElse(Nil).map(_.path)).toSet
        t.commit({ fresh =>
          requireTargetsLive(fresh)
          if ((fresh.currentSnapshot.map(_.deletes).getOrElse(Nil).map(_.path) ++
              fresh.currentSnapshot.map(_.posDeletes).getOrElse(Nil).map(_.path))
              .toSet != plannedDeletes)
            throw new ValidationError(
              "updateWhere superseded by a concurrent merge-on-read delete")
          fresh.withSnapshotDelta("update", Some(loadId), staged,
            Set.empty, newPosDeletes = posFiles)
        }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
        Maintenance.autoApplyIfNeeded(t, cfg.retryUnitMs)
      Maintenance.autoCompactIfNeeded(t, cfg.retryUnitMs)
      } finally matches.unpersist()
      updated
    } else {
      // copy-on-write: in-place when(cond, set) rewrite of affected
      // files. The count is recomputed inside the closure so it reflects
      // the committed (post-rebase) state, not the planning snapshot.
      var committedCount = updated
      t.commit({ fresh =>
        requireTargetsLive(fresh)
        val affected = fresh.currentFiles.filter(f => targetPaths.contains(f.path))
        val affectedDf = spark.read.schema(fresh.schema)
          .parquet(affected.map(_.path): _*)
        val live = MorRead.applyDeletes(spark, affectedDf, affected,
            fresh.currentSnapshot.map(_.deletes).getOrElse(Nil),
            fresh.currentSnapshot.map(_.posDeletes).getOrElse(Nil))
          .persist()
        try {
          committedCount = live.filter(coalesce(cond, lit(false))).count()
          val rewritten = live.select(applySet(fresh.schema, Some(cond)): _*)
          val staged = Stager.stage(rewritten, t.dataDir, s"$loadId-up",
            fresh.partitionSpec,
            bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
            sketchColumns = GraftWriter.sketchColumns(fresh, cfg))
          fresh.withSnapshotDelta("update", Some(loadId), staged, targetPaths)
        } finally live.unpersist()
      }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
      committedCount
    }
  }

  /** Merge-on-read commit: stage the batch's delete-key set as ONE tiny
    * parquet [[graft.catalog.DeleteFile]] and add it (plus the staged
    * data files) to the snapshot — parent data files are never read or
    * rewritten, so the commit does O(batch) IO regardless of how many
    * files the keys touch. The read-side anti-join lives in
    * [[graft.catalog.MorRead]]; sequence stamping (added files and the
    * delete get this commit's snapshotId, so a batch never deletes its
    * own rows) happens in `withSnapshotDelta`. */
  private def morCommit(t: GraftTable, keys: DataFrame, pks: Seq[String],
      stagedNew: Seq[DataFile], op: String, loadId: String, cfg: WriteConfig): Unit = {
    // one tiny file: MoR targets trickle batches, and the read side
    // broadcasts the delete keys — a 32-way shuffle write of 5 keys
    // would cost more files than rows
    val delFiles = Stager
      .stage(keys.coalesce(1), t.dir.resolve("deletes"), loadId)
      .map(f => DeleteFile(f.path, pks, f.rowCount, 0L, f.stats))
    morCommitStaged(t, delFiles, stagedNew, op, loadId, cfg)
  }

  /** [[morCommit]] for callers that already staged the delete-key file
    * (the fused upsert path, which derives its dup check and key count
    * from that file's footer instead of a separate aggregate job). */
  private def morCommitStaged(t: GraftTable, delFiles: Seq[DeleteFile],
      stagedNew: Seq[DataFile], op: String, loadId: String,
      cfg: WriteConfig): Unit = {
    t.commit(fresh => fresh.withSnapshotDelta(op, Some(loadId), stagedNew,
      Set.empty, newDeletes = delFiles, branch = cfg.toBranch),
      cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
    // self-maintenance applies to the main line only: a branch commit's
    // backlog is invisible to main readers until publish, and publish
    // routes through a main-line commit that re-evaluates the signal
    if (cfg.toBranch.isEmpty) {
      Maintenance.autoApplyIfNeeded(t, cfg.retryUnitMs)
      Maintenance.autoCompactIfNeeded(t, cfg.retryUnitMs)
    }
  }

  /** The heart of every merge variant: rewrite the key-affected subset of
    * the current files without the matching rows (left-anti join), carry
    * unaffected files as metadata, add `stagedNew` files, commit as one
    * snapshot. Rebase-safe: the rewrite re-runs against fresh metadata on
    * CAS conflict. */
  private def rewriteCommit(t: GraftTable, keys: DataFrame, pks: Seq[String],
      stagedNew: Seq[DataFile], op: String, loadId: String, cfg: WriteConfig,
      precomputed: Option[(Seq[Option[(String, String)]], Long)] = None): Unit = {
    val keysCached = keys.cache()
    try {
      // key ranges for file pruning on EVERY PK column (one metadata-scale
      // agg): a file is affected only if its [min,max] overlaps the batch
      // range on ALL key columns. Pruning on the first column alone lets a
      // low-cardinality leading key (e.g. region of a (region, id) PK)
      // select nearly every file and rewrite far too much. Ranges arrive
      // in CANONICAL stat-string form (Stager.statColumn encoding), per pk,
      // None = an all-null key column (can never equality-match). Callers
      // that staged the key set (the fused upsert) pass footer-derived
      // ranges in and pay zero extra jobs; everyone else pays one agg.
      val (ranges, keyCount) = precomputed.getOrElse {
        val rangeAggs = pks.flatMap(pk => Seq(min(col(pk)), max(col(pk)))) ++
          Seq(count(lit(1)).as("__cnt"))
        val r = graft.JobDesc(spark, s"graft.merge:ranges $loadId") {
          keysCached.agg(rangeAggs.head, rangeAggs.tail: _*).collect()(0)
        }
        val rs = pks.zipWithIndex.map { case (pk, i) =>
          if (r.isNullAt(2 * i)) None
          else {
            val dt = keys.schema(pk).dataType
            Some((canonicalKey(dt, r.get(2 * i)),
              canonicalKey(dt, r.get(2 * i + 1))))
          }
        }
        (rs, r.getAs[Long]("__cnt"))
      }

      // Trickle-merge bloom probe: random (UUID) keys make every file's
      // [min,max] span the keyspace, so range pruning keeps everything.
      // For small key batches (keys is distinct, so rowCount bounds the
      // lead-key cardinality), collect the distinct lead-key values once
      // and test them against per-file KeyBloom stats (when present) —
      // a file with no bloom hit for ANY batch key cannot be affected.
      val bloomProbeKeys: Option[Seq[Any]] =
        if (keyCount > MaxBloomProbeKeys) None
        else Some(graft.JobDesc(spark, s"graft.merge:probe $loadId") {
          keysCached.select(col(pks.head)).distinct().collect()
        }.map(_.get(0)).filter(_ != null).toSeq)

      graft.JobDesc(spark, s"graft.merge:rewrite $loadId") {
      t.commit({ fresh =>
        // one StatsPrune question: files overlapping the batch range on
        // EVERY key column (an all-null key column can never
        // equality-match: no constraint) that also admit a probed lead
        // key by bloom/bucket stats. Manifests outside the ranges are
        // never opened.
        val keyRanges = pks.zip(ranges).collect {
          case (pk, Some((lo, hi))) => graft.catalog.StatsPrune.between(pk, lo, hi)
        }
        val probe = bloomProbeKeys.filter(_.nonEmpty)
          .map(ks => org.apache.spark.sql.sources.In(pks.head, ks.toArray))
        val affected: Seq[DataFile] =
          if (keyRanges.isEmpty) Nil // empty or all-null key batch
          else graft.catalog.StatsPrune.files(fresh, keyRanges ++ probe)
        val affectedPaths = affected.map(_.path).toSet

        val rewritten: Seq[DataFile] =
          if (affected.isEmpty) Nil
          else {
            val affectedDf = spark.read.schema(fresh.schema)
              .parquet(affected.map(_.path): _*)
            // a CoW rewrite on a table with outstanding MoR delete files
            // must apply them to the rows it restages — the restaged
            // files get a NEW data sequence, putting them out of those
            // deletes' reach
            val delApplied = MorRead.applyDeletes(spark, affectedDf, affected,
              fresh.currentSnapshot.map(_.deletes).getOrElse(Nil),
              fresh.currentSnapshot.map(_.posDeletes).getOrElse(Nil))
            val kept = delApplied.join(keysCached, pks, "left_anti")
            // manifest metadata already bounds the rewrite size (kept rows
            // <= sum of affected rowCounts): a rewrite that lands in one
            // file gains nothing from range clustering — skip its
            // range-sampling pass, same reasoning as small upsert batches
            val clusterBy =
              if (cfg.clusterByKeys &&
                  affected.map(_.rowCount).sum > GraftWriter.SmallBatchNoClusterRows)
                pks
              else Nil
            Stager.stage(kept, t.dataDir, s"$loadId-rw", fresh.partitionSpec,
              clusterBy, GraftWriter.bloomColumns(fresh, cfg),
              GraftWriter.sketchColumns(fresh, cfg), cfg.maxRecordsPerFile)
          }

        // delta commit: only manifests whose path-bloom hits an affected
        // path are opened; untouched manifests carry by identity
        fresh.withSnapshotDelta(op, Some(loadId), rewritten ++ stagedNew,
          affectedPaths)
      }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
      }
    } finally keysCached.unpersist()
  }
}

object GraftWriter {
  /** Key-batch size above which the merge path skips the driver-side
    * bloom probe (probe cost is |files| x |keys| bit tests; the payoff —
    * avoiding needless file rewrites — concentrates in trickle merges). */
  val MaxBloomProbeKeys = 64

  /** Canonical per-pk [lo, hi] ranges folded from staged key-file footer
    * stats ([[graft.write.FooterStats]] canonicalizes exactly like
    * `Stager.statColumn`, so these strings feed `StatsPrune`
    * directly). Aligned with `pks`; a pk folds to None when every key
    * value is null (no equality match possible — same contract as the
    * aggregate path's null range). Returns None — caller falls back to
    * the aggregate job — when any file lacks usable stats for a pk that
    * HAS non-null values (e.g. a footer that omitted oversized binary
    * min/max): treating that as "no constraint" would silently shrink
    * the affected-file set and resurrect deleted rows. Footer-truncated
    * string prefixes are safe here: parquet truncation only WIDENS
    * [min,max], which can only widen the rewrite, never lose a file. */
  private[write] def rangesFromStats(staged: Seq[graft.catalog.DataFile],
      pks: Seq[String],
      schema: org.apache.spark.sql.types.StructType):
      Option[Seq[Option[(String, String)]]] = {
    if (staged.isEmpty) return Some(pks.map(_ => None)) // empty key set
    val perPk = pks.map { pk =>
      val folded = staged.map { f =>
        f.stats.get(pk) match {
          case Some(graft.catalog.ColumnStats(Some(mn), Some(mx), _, _, _)) =>
            Some(Some((mn, mx)))
          case Some(graft.catalog.ColumnStats(None, None, Some(nulls), _, _))
              if nulls == f.rowCount => Some(None) // all-null in this file
          case _ => None // stats missing/unusable: caller must aggregate
        }
      }
      if (folded.contains(None)) return None
      folded.flatten.flatten
    }
    Some(pks.zip(perPk).map { case (pk, bounds) =>
      if (bounds.isEmpty) None // all-null across every file
      else {
        // typed fold across files with the SAME comparator the pruner
        // uses — a lexical fold on numeric canonical strings would pick
        // "9" over "10" as the max
        val dt = schema(pk).dataType
        Some(bounds.reduceLeft[(String, String)] {
          case ((lo1, hi1), (lo2, hi2)) => (
            if (graft.catalog.StatCompare.compare(dt, lo1, lo2) <= 0) lo1 else lo2,
            if (graft.catalog.StatCompare.compare(dt, hi1, hi2) >= 0) hi1 else hi2)
        })
      }
    })
  }

  /** Best-effort recursive delete of a scratch directory. */
  private[write] def deleteQuietly(p: java.nio.file.Path): Unit =
    try {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => try { java.nio.file.Files.deleteIfExists(f); () }
          catch { case _: Throwable => () })
      finally s.close()
    } catch { case _: Throwable => () }

  /** Upsert batches at or below this many rows (== distinct keys) stage
    * into one file regardless of clustering, so the range-sampling pass
    * that `repartitionByRange` costs buys no pruning — skip it. */
  val SmallBatchNoClusterRows = 10000L

  /** Table property naming the columns whose per-file KeyBloom stats
    * every staging pass must rebuild. */
  val BloomColumnsProperty = "graft.bloom-columns"

  /** Table property declaring a write-time sort order (Iceberg's
    * `write.sort-order`): comma-separated column names. Bulk ingest
    * paths (append/replace) range-cluster each staged batch on these
    * columns and sort within tasks, so files (and parquet row groups)
    * cover narrow, near-disjoint ranges of the lead column — min/max
    * pruning on sort-order predicates then skips whole files exactly
    * like partition pruning, without burning a partition-spec slot.
    * Merge paths keep their PK clustering (the rewrite working set is
    * what matters there), and compaction/zorder rewrites own their
    * layout explicitly. */
  val SortOrderProperty = "graft.write.sort-order"

  /** Declared write sort order, validated against the live schema —
    * a property naming a dropped/typo'd column must fail the write
    * loudly, not silently skip the clustering the reader relies on. */
  def tableSortOrder(m: TableMetadata): Seq[String] =
    sortOrder(m.properties, m.schema.fieldNames)

  def sortOrder(properties: Map[String, String],
      fieldNames: Seq[String]): Seq[String] = {
    val cols = properties.get(SortOrderProperty).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val missing = cols.filterNot(fieldNames.contains)
    if (missing.nonEmpty)
      throw new ValidationError(
        s"$SortOrderProperty names missing columns: ${missing.mkString(", ")}")
    cols
  }

  def tableBloomColumns(m: TableMetadata): Seq[String] =
    m.properties.get(BloomColumnsProperty).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Effective bloom columns for one staging pass: the write config's
    * plus the table's persisted ones. */
  def bloomColumns(m: TableMetadata, cfg: WriteConfig): Seq[String] =
    (cfg.bloomColumns ++ tableBloomColumns(m)).distinct

  /** Table property naming the columns every staging pass builds a
    * per-file HLL distinct sketch for (Iceberg-Puffin parity): sketches
    * live in file stats, so the driver UNIONS them over whatever file
    * set is live — CBO NDV stays fresh through appends, deletes of
    * whole files, and compaction without re-reading a byte. */
  val SketchColumnsProperty = "graft.sketch-columns"

  def tableSketchColumns(m: TableMetadata): Seq[String] =
    m.properties.get(SketchColumnsProperty).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Effective sketch columns for one staging pass: the write config's
    * plus the table's persisted ones. */
  def sketchColumns(m: TableMetadata, cfg: WriteConfig): Seq[String] =
    (cfg.sketchColumns ++ tableSketchColumns(m)).distinct
}
