package graft.write

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  import GraftWriter.{IdxCol, MaxBloomProbeKeys, OverwriteRows, PathCol,
    UpdateRows}

  def spark: SparkSession = catalog.spark

  /** Commit one table's batches for one load as ONE snapshot (two for
    * upsert+hard-delete, matching the reference's separate transactions,
    * `destination_client.py:1437-1441`). The load id is the idempotence
    * key: a table whose snapshots already carry `loadId` is left as it is,
    * so replaying a load after a crash appends nothing twice. */
  def writeTable(ns: String, name: String, batches: Seq[DataFrame],
      disposition: Disposition, cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): GraftTable = {
    require(batches.nonEmpty, "no batches to write")
    val (t, created) = createOrLoad(ns, name,
      GraftWriter.incomingSchema(batches.head.schema, cfg), cfg)
    // on a replay the schema already evolved: `m0` is the metadata
    // evolveThenCast reads anyway
    val (m0, combined) = evolveThenCast(t, batches, cfg, evolve = !created)
    if (m0.hasLoad(loadId)) return t

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

  /** Append driver-held rows (the pipeline's `_dlt_*` bookkeeping) as one
    * snapshot without a Spark job or a Catalyst plan: the table is created
    * or evolved as for [[writeTable]], the load id is the same idempotence
    * key, the rows are laid out in the table schema on the driver
    * ([[SafeCast.rows]]) and staged as one file by [[Stager.stageRows]].
    * `rows` are typed by `schema`; the table must be unpartitioned and
    * keep no distinct sketches. */
  def appendRows(ns: String, name: String, rows: Seq[org.apache.spark.sql.Row],
      schema: StructType, cfg: WriteConfig, loadId: String): GraftTable = {
    val incoming = GraftWriter.incomingSchema(schema, cfg)
    val (t, created) = createOrLoad(ns, name, incoming, cfg)
    val m = evolveTo(t, incoming, cfg, evolve = !created)
    if (m.hasLoad(loadId)) return t
    if (m.partitionSpec.nonEmpty || GraftWriter.sketchColumns(m, cfg).nonEmpty)
      throw new ValidationError(s"${m.identifier}: driver-side appends need an " +
        "unpartitioned table without sketch columns")
    val staged = Stager.stageRows(spark,
      SafeCast.rows(rows, schema, m.schema, cfg.strictCasting), m.schema,
      t.dataDir, loadId, GraftWriter.bloomColumns(m, cfg))
    commitStagedAppend(t, staged, loadId, cfg)
    t
  }

  /** The table to write, created from `incoming` when missing; true when
    * this call created it. */
  private def createOrLoad(ns: String, name: String, incoming: StructType,
      cfg: WriteConfig): (GraftTable, Boolean) =
    if (catalog.tableExists(ns, name)) (catalog.loadTable(ns, name), false)
    else {
      val spec = Transforms.buildSpec(cfg.partitions, incoming)
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
      try (catalog.createTable(ns, name, incoming, spec, props, cfg.location), true)
      catch {
        // two writers racing the FIRST load of a shared table: create
        // is CAS on v1.metadata.json, so exactly one wins — the loser
        // proceeds against the winner's table exactly as if it had
        // existed all along (evolution + CAS-retried commit)
        case _: graft.catalog.TableAlreadyExistsError =>
          (catalog.loadTable(ns, name), false)
      }
    }

  /** Schema evolution (destination_client.py:1341-1367): the table schema
    * evolves to admit `incoming` (C8). Returns the metadata after it — the
    * one read, unless evolution committed. */
  private def evolveTo(t: GraftTable, incoming: StructType, cfg: WriteConfig,
      evolve: Boolean): TableMetadata = {
    val m = t.metadata
    if (!evolve) return m
    val evo = SchemaEvolution.evolve(m.schema, incoming, cfg.allowColumnDrops)
    if (evo.evolved)
      t.commit(_.withSchema(evo.schema), cfg.maxRetries, cfg.backoffBase,
        cfg.retryUnitMs)
    else m
  }

  /** Schema evolution, then cast (destination_client.py:1341-1367): the
    * table schema evolves to admit the batches' normalized schema (C8),
    * then every batch is cast to the table schema (C4-C5) and the casts
    * are unioned — `pa.concat_tables`, distributed. Returns the metadata
    * the cast was made against. */
  private def evolveThenCast(t: GraftTable, batches: Seq[DataFrame],
      cfg: WriteConfig, evolve: Boolean = true): (TableMetadata, DataFrame) = {
    val m = evolveTo(t, GraftWriter.incomingSchema(batches.head.schema, cfg),
      cfg, evolve)
    (m, batches.map(SafeCast(_, m.schema, cfg.strictCasting))
      .reduce(_ unionByName _))
  }

  private def commitAppend(t: GraftTable, m: TableMetadata, df: DataFrame,
      loadId: String, cfg: WriteConfig): Unit = {
    val staged = Stager.stage(df, t.dataDir, loadId, m.partitionSpec,
      bloomColumns = GraftWriter.bloomColumns(m, cfg),
      sketchColumns = GraftWriter.sketchColumns(m, cfg),
      maxRecordsPerFile = cfg.maxRecordsPerFile,
      sortBy = GraftWriter.tableSortOrder(m))
    commitStagedAppend(t, staged, loadId, cfg)
  }

  private def commitStagedAppend(t: GraftTable, staged: Seq[DataFile],
      loadId: String, cfg: WriteConfig): Unit = {
    // delta commit: parent manifests carry by identity — zero manifest
    // body reads even on a cold JVM (the cost every load pays)
    t.commit(fresh => fresh.withSnapshotDelta("append", Some(loadId),
      staged, Set.empty, branch = cfg.toBranch),
      cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs, staged.map(_.path))
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
      branch = cfg.toBranch), cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs,
      staged.map(_.path))
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
            // key file): drop them instead of leaving them to vacuum
            TableMetadata.discardStaged(t, (staged ++ keyStaged).map(_.path))
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
            if (!t.metadata.hasLoad(hdId)) {
              val delKeys = hardDeleted.select(pks.map(col): _*).distinct()
              // failing for good, it drops the upsert's staged output too
              val upsertStaged = (staged ++ (if (cfg.mergeOnRead) keyStaged else Nil))
                .map(_.path)
              if (cfg.mergeOnRead)
                morCommit(t, delKeys, pks, Nil, "delete", hdId, cfg, upsertStaged)
              else rewriteCommit(t, delKeys, pks, Nil, "delete", hdId, cfg,
                alsoStaged = upsertStaged)
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
        } finally keyScratch.foreach(PathIO.deleteQuietly)
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
  def deleteWhere(ns: String, name: String, cond: Column,
      cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): Long =
    rewriteWhere(ns, name, cond, GraftWriter.DeleteRows, cfg, loadId)

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
  def overwriteWhere(ns: String, name: String, cond: Column,
      batch: DataFrame, cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): Unit =
    overwriteWhereImpl(ns, name, cond, batch, cfg, loadId)

  /** [[overwriteWhere]] through the planner's `afterPlanning` seam. */
  private[graft] def overwriteWhereImpl(ns: String, name: String,
      cond: Column, batch: DataFrame, cfg: WriteConfig, loadId: String,
      afterPlanning: () => Unit = () => ()): Unit = {
    rewriteWhere(ns, name, cond, OverwriteRows(batch), cfg,
      loadId, afterPlanning)
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
    val (_, cast) = evolveThenCast(t, Seq(batch), cfg)
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
    // committed concurrently AFTER this check; it runs before the
    // attempt stages anything.
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
      val (attributed, orphaned) = fresh.currentFiles
        .map(f => f -> tupleOf(f, spec))
        .partition(_._2.isDefined)
      if (orphaned.nonEmpty)
        throw new ValidationError(
          s"dynamic overwrite cannot attribute ${orphaned.size} file(s) to " +
            s"a partition tuple (older spec vintage, e.g. " +
            s"${orphaned.head._1.path}); compact/restage first or use " +
            "REPLACE WHERE with an explicit predicate")
      val staged = Stager.stage(cast, t.dataDir, loadId, spec,
        bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
        sketchColumns = GraftWriter.sketchColumns(fresh, cfg))
      val stagedTuples = staged.flatMap(tupleOf(_, spec)).toSet
      require(staged.isEmpty || stagedTuples.nonEmpty,
        "staged files must carry value-exact partition stats")
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
  def updateWhere(ns: String, name: String, cond: Column,
      set: Map[String, Column],
      cfg: WriteConfig = WriteConfig(),
      loadId: String = java.util.UUID.randomUUID().toString): Long =
    rewriteWhere(ns, name, cond, UpdateRows(set), cfg, loadId)

  /** The planner behind [[deleteWhere]], [[updateWhere]] and
    * [[overwriteWhere]]:
    *
    *  1. attribution: one scan of the live files (outstanding MoR
    *     deletes applied) counts the rows matching `cond` per file;
    *  2. merge-on-read (delete, update): stage the update's SET rows
    *     and ONE positional delete vector over the matched positions,
    *     then commit while the targets are still live and the delete
    *     set is unchanged — the positions and rows bind to both;
    *  3. copy-on-write: inside the commit, restage the targets against
    *     the fresh snapshot with the rewrite's row transform (the
    *     restage re-applies the fresh deletes, so only the targets must
    *     still be live); a filter overwrite also replaces matching rows
    *     of files committed since planning, and adds its batch.
    *
    * `afterPlanning` runs between planning and commit — a seam for
    * specs that land a concurrent commit inside that window. Returns the matched row count (for
    * copy-on-write, as recounted against the committed state). */
  private[graft] def rewriteWhere(ns: String, name: String, cond: Column,
      rewrite: GraftWriter.Rewrite, cfg: WriteConfig, loadId: String,
      afterPlanning: () => Unit = () => ()): Long = {
    require(cfg.toBranch.isEmpty,
      s"${rewrite.name} targets main state; branch writes are not supported")
    val t = catalog.loadTable(ns, name)
    val (m, batch) = rewrite match {
      case OverwriteRows(b) =>
        val (m, cast) = evolveThenCast(t, Seq(b), cfg)
        (m, Some(cast))
      case _ => (t.metadata, None)
    }
    val files = m.currentFiles
    if (files.isEmpty && batch.isEmpty) return 0L
    rewrite match {
      case UpdateRows(set) => set.keys.foreach(k => require(
        m.schema.fieldNames.contains(k), s"SET column $k not in table schema"))
      case _ =>
    }
    // a filter overwrite has no merge-on-read form
    val mor = cfg.mergeOnRead && batch.isEmpty
    // merge-on-read writes its vector (and update its new rows) from the
    // matches too: cache them, one scan serves every use
    val matches = Option.when(files.nonEmpty) {
      val rows = matchingRows(m, files, cond)
      if (!mor) rows
      else if (rewrite.isInstanceOf[UpdateRows]) rows.cache()
      else rows.select(col(PathCol), col(IdxCol)).cache()
    }
    try {
      val hits = matches.fold(Seq.empty[(DataFile, Long)])(
        matchesPerFile(_, files, loadId))
      if (hits.isEmpty && batch.isEmpty) return 0L
      val targets = hits.map(_._1)
      val planned = targets.map(_.path).toSet
      val matched = hits.map(_._2).sum
      if (mor) {
        val staged = rewrite match {
          case UpdateRows(set) => Stager.stage(
            matches.get.select(GraftWriter.setColumns(set, m.schema, None): _*),
            t.dataDir, s"$loadId-${rewrite.suffix}", m.partitionSpec,
            bloomColumns = GraftWriter.bloomColumns(m, cfg),
            sketchColumns = GraftWriter.sketchColumns(m, cfg))
          case _ => Nil
        }
        val vector = writeVector(t, matches.get, loadId, matched)
        val plannedDeletes = m.currentDeletePaths
        afterPlanning()
        t.commit({ fresh =>
          fresh.requireNotSuperseded(rewrite.name, planned,
            identical = false, Some(plannedDeletes))
          fresh.withSnapshotDelta(rewrite.op, Some(loadId), staged,
            Set.empty, newPosDeletes = vector)
        }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs,
          staged.map(_.path) ++ vector.map(_.path))
        autoMaintain(t, cfg)
        matched
      } else {
        val plannedFiles = files.map(_.path).toSet
        afterPlanning()
        var committed = matched
        t.commit({ fresh =>
          fresh.requireNotSuperseded(rewrite.name, planned, identical = false)
          // Serializable overwrite-by-filter (Iceberg's validate-added-
          // files rule): files committed AFTER planning may hold rows
          // matching `cond`, and the overwrite snapshot is the LATER one,
          // so those rows must be replaced too. Re-attribute just the
          // newcomers — exact, and free when nothing landed.
          val newcomers =
            if (batch.isEmpty) Nil
            else fresh.currentFiles.filterNot(f => plannedFiles.contains(f.path))
          val affected = targets ++ (if (newcomers.isEmpty) Nil
            else matchesPerFile(matchingRows(fresh, newcomers, cond),
              newcomers, loadId).map(_._1))
          val added = batch.toSeq.flatMap(Stager.stage(_, t.dataDir, loadId,
            fresh.partitionSpec, bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
            sketchColumns = GraftWriter.sketchColumns(fresh, cfg)))
          val (n, restaged) = restage(t, fresh, affected, cond, rewrite, loadId, cfg)
          committed = n
          fresh.withSnapshotDelta(rewrite.op, Some(loadId), restaged ++ added,
            affected.map(_.path).toSet)
        }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs)
        committed
      }
    } finally matches.foreach(_.unpersist())
  }

  /** The live rows of `files` under `m` (its outstanding MoR deletes
    * applied) that match `cond`, tagged with their canonical origin path
    * and row index. The tags are taken on the scan relation itself:
    * `_metadata` resolves only there, and MorRead's joins would hide it. */
  private def matchingRows(m: TableMetadata, files: Seq[DataFile],
      cond: Column): DataFrame = {
    val scan = spark.read.schema(m.schema).parquet(files.map(_.path): _*)
      .withColumn(PathCol, MorRead.posixPath(col("_metadata.file_path")))
      .withColumn(IdxCol, col("_metadata.row_index"))
    MorRead.applyDeletes(spark, scan, files, m.currentDeletes,
      m.currentPosDeletes).filter(cond)
  }

  /** Row attribution: the files among `files` holding `matches`, with
    * their match counts. The canonical paths the scan reports map back to
    * the files once, so guards, restages and removals all use the stored
    * paths. */
  private def matchesPerFile(matches: DataFrame, files: Seq[DataFile],
      loadId: String): Seq[(DataFile, Long)] = {
    val counts = graft.JobDesc(spark, s"graft.dml:attribute $loadId") {
      matches.groupBy(col(PathCol)).agg(count(lit(1))).collect()
    }.map(r => r.getString(0) -> r.getLong(1)).toMap
    files.flatMap(f => counts.get(MorRead.posixPath(f.path)).map(f -> _))
  }

  /** ONE positional delete vector over the matched rows' positions,
    * staged under `deletes/<loadId>-pos-<uuid8>`. */
  private def writeVector(t: GraftTable, matches: DataFrame, loadId: String,
      rows: Long): Seq[PosDeleteFile] = {
    val dest = t.dir.resolve("deletes")
      .resolve(s"$loadId-pos-${java.util.UUID.randomUUID().toString.take(8)}")
    graft.JobDesc(spark, s"graft.dml:vector $loadId") {
      matches.select(col(PathCol).as("file_path"),
          col(IdxCol).as("row_index"))
        .coalesce(1).write.parquet(dest.toString)
    }
    PathIO.walk(dest).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => PosDeleteFile(p.toString, rows))
  }

  /** Copy-on-write restage of `affected` against `fresh`: its outstanding
    * MoR deletes are applied (the restaged files get a NEW data sequence,
    * out of their reach), then the rewrite's row transform. Returns the
    * rows matching `cond` (when the rewrite counts them) and the staged
    * files. */
  private def restage(t: GraftTable, fresh: TableMetadata,
      affected: Seq[DataFile], cond: Column, rewrite: GraftWriter.Rewrite,
      loadId: String, cfg: WriteConfig): (Long, Seq[DataFile]) = {
    if (affected.isEmpty) return (0L, Nil)
    val live = MorRead.applyDeletes(spark,
      spark.read.schema(fresh.schema).parquet(affected.map(_.path): _*),
      affected, fresh.currentDeletes, fresh.currentPosDeletes)
    // persisted when counted: the count and the restage share one read
    if (rewrite.counts) live.persist()
    try {
      val n = if (rewrite.counts) live.filter(coalesce(cond, lit(false))).count()
        else 0L
      val rows = rewrite match {
        case UpdateRows(set) =>
          live.select(GraftWriter.setColumns(set, fresh.schema, Some(cond)): _*)
        // three-valued logic: a NULL condition must KEEP the row (it did
        // not match) — bare !cond would silently drop it
        case _ => live.filter(!coalesce(cond, lit(false)))
      }
      (n, Stager.stage(rows, t.dataDir, s"$loadId-${rewrite.suffix}",
        fresh.partitionSpec,
        bloomColumns = GraftWriter.bloomColumns(fresh, cfg),
        sketchColumns = GraftWriter.sketchColumns(fresh, cfg)))
    } finally live.unpersist()
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
      stagedNew: Seq[DataFile], op: String, loadId: String, cfg: WriteConfig,
      alsoStaged: Seq[String] = Nil): Unit = {
    // one tiny file: MoR targets trickle batches, and the read side
    // broadcasts the delete keys — a 32-way shuffle write of 5 keys
    // would cost more files than rows
    val delFiles = Stager
      .stage(keys.coalesce(1), t.dir.resolve("deletes"), loadId)
      .map(f => DeleteFile(f.path, pks, f.rowCount, 0L, f.stats))
    morCommitStaged(t, delFiles, stagedNew, op, loadId, cfg, alsoStaged)
  }

  /** [[morCommit]] for callers that already staged the delete-key file
    * (the fused upsert path, which derives its dup check and key count
    * from that file's footer instead of a separate aggregate job).
    * `alsoStaged` is output staged for a later commit of the same load,
    * dropped with this commit's own if it fails for good. */
  private def morCommitStaged(t: GraftTable, delFiles: Seq[DeleteFile],
      stagedNew: Seq[DataFile], op: String, loadId: String,
      cfg: WriteConfig, alsoStaged: Seq[String] = Nil): Unit = {
    val next = t.commit(fresh => fresh.withSnapshotDelta(op, Some(loadId),
      stagedNew, Set.empty, newDeletes = delFiles, branch = cfg.toBranch),
      cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs,
      stagedNew.map(_.path) ++ delFiles.map(_.path) ++ alsoStaged)
    // a delete into an empty parent has no victims and commits without
    // its key file: nothing references it, so drop it
    val kept = next.snapshots.last.deletes.map(_.path).toSet
    TableMetadata.discardStaged(t, delFiles.map(_.path).filterNot(kept))
    autoMaintain(t, cfg)
  }

  /** Self-maintenance after a merge-on-read commit, on the main line
    * only: a branch commit's backlog is invisible to main readers until
    * publish, and publish routes through a main-line commit that
    * re-evaluates the signal. */
  private def autoMaintain(t: GraftTable, cfg: WriteConfig): Unit =
    if (cfg.toBranch.isEmpty) {
      Maintenance.autoApplyIfNeeded(t, cfg.retryUnitMs)
      Maintenance.autoCompactIfNeeded(t, cfg.retryUnitMs)
    }

  /** The heart of every merge variant: rewrite the key-affected subset of
    * the current files without the matching rows (left-anti join), carry
    * unaffected files as metadata, add `stagedNew` files, commit as one
    * snapshot. Rebase-safe: the rewrite re-runs against fresh metadata on
    * CAS conflict (the commit drops the lost attempt's restage). */
  private def rewriteCommit(t: GraftTable, keys: DataFrame, pks: Seq[String],
      stagedNew: Seq[DataFile], op: String, loadId: String, cfg: WriteConfig,
      precomputed: Option[(Seq[Option[(String, String)]], Long)] = None,
      alsoStaged: Seq[String] = Nil): Unit = {
    val keysCached = keys.cache()
    try {
      // key ranges for file pruning on EVERY PK column (one metadata-scale
      // agg): a file is affected only if its [min,max] overlaps the batch
      // range on ALL key columns. Pruning on the first column alone lets a
      // low-cardinality leading key (e.g. region of a (region, id) PK)
      // select nearly every file and rewrite far too much. Ranges arrive
      // in CANONICAL stat-string form (FooterStats encoding), per pk,
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
      }, cfg.maxRetries, cfg.backoffBase, cfg.retryUnitMs,
        stagedNew.map(_.path) ++ alsoStaged)
      }
    } finally keysCached.unpersist()
  }
}

object GraftWriter {
  /** What a predicate rewrite ([[GraftWriter.rewriteWhere]]) does to the
    * rows matching its condition. `op` names its snapshots, `suffix` its
    * restaged files' load id; `counts` says whether it returns the
    * matched row count. */
  private[graft] sealed abstract class Rewrite(val op: String,
      val suffix: String, val counts: Boolean = true) {
    def name: String = s"${op}Where"
  }
  /** Drop the matching rows. */
  private[graft] case object DeleteRows extends Rewrite("delete", "dw")
  /** Apply `set` to the matching rows. */
  private[graft] final case class UpdateRows(set: Map[String, Column])
    extends Rewrite("update", "up")
  /** Drop the matching rows and add `batch`. */
  private[graft] final case class OverwriteRows(batch: DataFrame)
    extends Rewrite("overwrite", "ow", counts = false)

  /** Origin tags [[GraftWriter.rewriteWhere]]'s attribution scan adds. */
  private val PathCol = "__dw_path"
  private val IdxCol = "__dw_idx"

  /** `SET` as a projection of `schema`: each set column cast to its
    * committed type, applied only where `onlyWhen` holds (everywhere
    * when None). */
  private def setColumns(set: Map[String, Column], schema: StructType,
      onlyWhen: Option[Column]): Seq[Column] =
    schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) =>
          val cast = e.cast(f.dataType)
          onlyWhen.fold(cast)(c => when(c, cast).otherwise(col(f.name)))
            .as(f.name)
        case None => col(f.name)
      }
    }

  /** A batch's schema as the table would declare it: normalized, and
    * nullable except for the configured required columns. */
  private def incomingSchema(batch: StructType, cfg: WriteConfig): StructType =
    StructType(TypeLattice.normalize(batch).fields.map(f =>
      f.copy(nullable = !cfg.requiredColumns.contains(f.name))))

  /** Key-batch size above which the merge path skips the driver-side
    * bloom probe (probe cost is |files| x |keys| bit tests; the payoff —
    * avoiding needless file rewrites — concentrates in trickle merges). */
  val MaxBloomProbeKeys = 64

  /** Canonical per-pk [lo, hi] ranges folded from staged key-file footer
    * stats ([[graft.write.FooterStats]] canonicalizes as the
    * pruner reads stats back, so these strings feed `StatsPrune`
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
