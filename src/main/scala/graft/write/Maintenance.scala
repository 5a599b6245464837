package graft.write

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import graft.catalog.GraftTable
import scala.jdk.CollectionConverters._

/** Table maintenance: small-file compaction, snapshot expiry, orphan
  * vacuum. The reference inherits these from Iceberg's table services;
  * here they are snapshot rewrites over the same commit protocol, so they
  * compose with concurrent writers (CAS + rebase) and never break time
  * travel for retained snapshots.
  */
object Maintenance {

  /** Table property naming the delete-to-data row ratio above which
    * [[deleteBacklog]] flags the table for maintenance (default 0.10).
    * The MoR read paths stay correct at ANY backlog (the scan layer
    * degrades in tiers — see [[graft.catalog.MorRead]]), but past this
    * ratio every read pays a delete-application cost that compaction
    * would amortize once. */
  val MaxDeleteRatioProp = "graft.mor.max-delete-ratio"
  val DefaultMaxDeleteRatio = 0.10

  /** Table property bounding the outstanding delete FILE count (default
    * 200). The delete-backlog bench showed read cost tracks file count,
    * not just row ratio — every scan re-reads each outstanding delete
    * file, so a trickle-merge table accumulates a per-read file-open tax
    * long before its row ratio moves. One compaction pays the cost once. */
  val MaxDeleteFilesProp = "graft.mor.max-delete-files"
  val DefaultMaxDeleteFiles = 200

  /** The operational signal the MoR story rests on ("compaction bounds
    * the working set"): a metadata-only report of the outstanding delete
    * backlog. `needsMaintenance` fires when the delete-to-data row ratio
    * passes the table's [[MaxDeleteRatioProp]] OR the backlog crosses
    * [[graft.catalog.MorRead.driverStateMaxRows]] — the same threshold
    * past which reads lose the driver-state (SPJ-preserving) wrap, so
    * the signal fires BEFORE the degradation tier does its job. Zero IO:
    * every number is summed from snapshot metadata. */
  final case class BacklogReport(
      dataRows: Long, eqDeleteRows: Long, posDeleteRows: Long,
      deleteFileCount: Int, ratio: Double, maxRatio: Double,
      maxFiles: Int, overRatio: Boolean, overFiles: Boolean,
      overDriverGate: Boolean) {
    def deleteRows: Long = eqDeleteRows + posDeleteRows
    def needsMaintenance: Boolean = overRatio || overFiles || overDriverGate
  }

  def deleteBacklog(t: GraftTable): BacklogReport = {
    val m = t.metadata
    val snap = m.currentSnapshot
    val dataRows = m.currentFiles.map(_.rowCount).sum
    val eq = snap.map(_.deletes).getOrElse(Nil)
    val pos = snap.map(_.posDeletes).getOrElse(Nil)
    val eqRows = eq.map(_.rowCount).sum
    val posRows = pos.map(_.rowCount).sum
    val maxRatio = m.properties.get(MaxDeleteRatioProp).map(_.toDouble)
      .getOrElse(DefaultMaxDeleteRatio)
    val maxFiles = m.properties.get(MaxDeleteFilesProp).map(_.toInt)
      .getOrElse(DefaultMaxDeleteFiles)
    val ratio =
      if (dataRows == 0L) { if (eqRows + posRows > 0) Double.PositiveInfinity else 0.0 }
      else (eqRows + posRows).toDouble / dataRows
    BacklogReport(dataRows, eqRows, posRows, eq.size + pos.size,
      ratio, maxRatio, maxFiles,
      overRatio = ratio > maxRatio,
      overFiles = eq.size + pos.size > maxFiles,
      overDriverGate =
        eqRows + posRows > graft.catalog.MorRead.driverStateMaxRows)
  }

  /** Table property opting a table into write-path self-maintenance
    * (default false): after a commit that adds merge-on-read delete
    * files, the writer re-reads the backlog signal and, if it fires,
    * runs [[applyDeletes]] inline as a follow-up commit. This closes
    * the operational loop [[deleteBacklog]] opened without requiring
    * an external scheduler — the trickle pipeline that CREATES the
    * backlog is the one that pays it down, and the threshold knobs
    * ([[MaxDeleteRatioProp]]/[[MaxDeleteFilesProp]]) amortize the
    * rewrite over many cheap commits. Off by default because inline
    * maintenance trades commit latency for read latency — a policy
    * the table owner, not the engine, should choose. */
  val AutoApplyDeletesProp = "graft.mor.auto-apply-deletes"

  /** Post-commit hook for MoR delete-adding writes: apply the backlog
    * down when [[AutoApplyDeletesProp]] opts in AND the signal fires.
    * Best-effort by design — a concurrent writer superseding the
    * rewrite (ValidationError from [[applyDeletes]]'s staleness checks)
    * leaves the backlog for the next triggering commit rather than
    * failing the write that already committed. Returns true when a
    * maintenance commit landed. */
  def autoApplyIfNeeded(t: GraftTable, retryUnitMs: Long = 1000L): Boolean = {
    val on = t.metadata.properties.get(AutoApplyDeletesProp)
      .exists(_.equalsIgnoreCase("true"))
    if (!on || !deleteBacklog(t).needsMaintenance) return false
    bestEffort("auto-apply-deletes")(applyDeletes(t, retryUnitMs))
  }

  /** Runs a follow-up of a write that has ALREADY committed: ANY failure
    * (IO error, Spark job failure, a racing rewrite) must not surface as
    * a failure of that write, so it is logged and the work is left for
    * the next triggering commit. */
  private def bestEffort(name: String)(run: => Boolean): Boolean =
    try run
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$name maintenance skipped: ${e.getMessage}")
        false
    }

  /** Table property: the byte size below which a live data file counts as
    * "small" for the [[fileHealth]] signal and for auto-compaction
    * (default 32 MB — the [[compact]] default). */
  val SmallFileBytesProp = "graft.compact.small-file-bytes"
  val DefaultSmallFileBytes: Long = 32L << 20

  /** Table property: the small-file COUNT above which [[fileHealth]]
    * flags the table (default 100). Reads pay a per-file open cost, so a
    * trickle-append/merge table accumulates a read tax linear in file
    * count long before total bytes matter; one compaction pays it once. */
  val MaxSmallFilesProp = "graft.compact.max-small-files"
  val DefaultMaxSmallFiles = 100

  /** Table property: auto/explicit compaction's output file size target
    * (default 128 MB — Iceberg's write.target-file-size analogue). */
  val TargetFileBytesProp = "graft.compact.target-file-size"
  val DefaultTargetFileBytes: Long = 128L << 20

  /** The small-file twin of [[BacklogReport]]: zero-IO accounting of the
    * live file population from snapshot metadata. The same trickle
    * workload that builds a delete backlog also leaves one small data
    * file per commit; this is the signal that says the per-read
    * file-open tax has outgrown one compaction's cost. */
  final case class FileHealthReport(
      fileCount: Int, smallFileCount: Int, avgFileBytes: Long,
      smallFileBytes: Long, maxSmallFiles: Int) {
    def needsCompaction: Boolean = smallFileCount > maxSmallFiles
  }

  def fileHealth(t: GraftTable): FileHealthReport = {
    val m = t.metadata
    val files = m.currentFiles
    val smallBytes = m.properties.get(SmallFileBytesProp).map(_.toLong)
      .getOrElse(DefaultSmallFileBytes)
    val maxSmall = m.properties.get(MaxSmallFilesProp).map(_.toInt)
      .getOrElse(DefaultMaxSmallFiles)
    FileHealthReport(
      fileCount = files.size,
      smallFileCount = files.count(_.sizeBytes < smallBytes),
      avgFileBytes =
        if (files.isEmpty) 0L else files.map(_.sizeBytes).sum / files.size,
      smallFileBytes = smallBytes,
      maxSmallFiles = maxSmall)
  }

  /** Table property opting a table into write-path self-compaction
    * (default false), the small-file mirror of [[AutoApplyDeletesProp]]:
    * after a commit, if [[fileHealth]] flags the table, run [[compact]]
    * inline as a follow-up commit. Same trade, same best-effort
    * semantics: commit latency absorbs periodic compaction spikes so
    * read latency holds at the bounded floor, and any failure leaves
    * the file population for the next triggering commit. */
  val AutoCompactProp = "graft.write.auto-compact"

  /** Post-commit hook: compact when [[AutoCompactProp]] opts in AND the
    * [[fileHealth]] signal fires. Returns true when a compaction commit
    * landed. */
  def autoCompactIfNeeded(t: GraftTable, retryUnitMs: Long = 1000L): Boolean = {
    val m = t.metadata
    val on = m.properties.get(AutoCompactProp)
      .exists(_.equalsIgnoreCase("true"))
    if (!on) return false
    val h = fileHealth(t)
    if (!h.needsCompaction) return false
    val target = m.properties.get(TargetFileBytesProp).map(_.toLong)
      .getOrElse(DefaultTargetFileBytes)
    bestEffort("auto-compact")(compact(t, smallFileBytes = h.smallFileBytes,
      targetFileBytes = target, retryUnitMs = retryUnitMs))
  }

  /** Bin-pack files smaller than `smallFileBytes` into ~`targetFileBytes`
    * outputs. Only the small files are rewritten; full-size files carry
    * over untouched. Commits one "compact" snapshot (row set unchanged —
    * callers can verify: compaction is content-neutral by construction). */
  def compact(t: GraftTable, smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20, retryUnitMs: Long = 1000L): Boolean = {
    val m = t.metadata
    val small = m.currentFiles.filter(_.sizeBytes < smallFileBytes)
    if (small.size < 2) return false
    val totalBytes = small.map(_.sizeBytes).sum
    val numOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // apply outstanding MoR deletes to the rows being restaged — the
    // compacted files get a fresh data sequence, which puts them out of
    // those deletes' reach; copying deleted rows verbatim would resurrect
    // them
    val applied = graft.catalog.MorRead.applyDeletes(t.spark,
      t.spark.read.schema(m.schema).parquet(small.map(_.path): _*),
      small, m.currentDeletes, m.currentPosDeletes)
    graft.JobDesc(t.spark, s"graft.maint:compact ${m.identifier}") {
    // a declared write sort-order survives compaction: re-cluster the
    // restaged rows instead of blindly coalescing, so the disjoint
    // key-range layout that TopN/min-max pruning rely on is restored
    // rather than destroyed by maintenance
    val sortCols = GraftWriter.sortOrder(m.properties, m.schema.fieldNames)
    val df =
      if (sortCols.isEmpty) applied.coalesce(numOut)
      else applied
        .repartitionByRange(numOut, sortCols.map(org.apache.spark.sql
          .functions.col): _*)
        .sortWithinPartitions(sortCols.map(org.apache.spark.sql
          .functions.col): _*)
    // rebuild table-property bloom stats: compacted files must keep the
    // membership filters or point lookups degrade to full scans
    val staged = Stager.stage(df, t.dataDir, "compact", m.partitionSpec,
      bloomColumns = GraftWriter.tableBloomColumns(m),
      sketchColumns = GraftWriter.tableSketchColumns(m))
    val smallPaths = small.map(_.path).toSet
    val plannedDeletes = m.currentDeletePaths
    // rebase-safe only while the small set is live and no delete arrived
    // since planning (the restage applied exactly the planned ones)
    t.commit({ fresh =>
      fresh.requireNotSuperseded("compaction", smallPaths,
        identical = false, Some(plannedDeletes))
      fresh.withSnapshotDelta("compact", None, staged, smallPaths)
    }, unitMs = retryUnitMs, staged = staged.map(_.path))
    true
    }
  }

  /** Physically apply every outstanding merge-on-read [[graft.catalog
    * .DeleteFile]] and clear them — scans join-free again afterwards.
    * Only data files a delete could actually hit (`dataSeq < delete.seq`)
    * are rewritten; newer files carry over as metadata. Content-neutral
    * with respect to `read()` by construction. Returns false when there
    * is nothing to apply. */
  /** Compact the current snapshot's manifest-ref list into ONE merged
    * manifest — a metadata-only, content-neutral commit (data files
    * carry verbatim, sequences preserved so merge-on-read delete
    * fencing is untouched). Returns false when already compact. */
  def rewriteManifests(t: GraftTable, retryUnitMs: Long = 1000L): Boolean = {
    if (t.metadata.currentSnapshot.forall(_.manifestPaths.size <= 1))
      return false
    t.commit(_.withManifestsRewritten(), unitMs = retryUnitMs)
    true
  }

  def applyDeletes(t: GraftTable, retryUnitMs: Long = 1000L): Boolean = {
    val m = t.metadata
    val deletes = m.currentDeletes
    val posDeletes = m.currentPosDeletes
    if (deletes.isEmpty && posDeletes.isEmpty) return false
    graft.JobDesc(t.spark, s"graft.maint:apply-deletes ${m.identifier}") {
    // a file needs rewriting if an equality delete could fence it OR a
    // positional delete targets it by path
    val maxSeq = deletes.map(_.seq).maxOption.getOrElse(Long.MinValue)
    // canonicalize stored targets through the same rule the read path
    // uses (posixPath decodes scheme-ful URI forms from imported delete
    // files; engine-written literals pass through) so the literal
    // DataFile.path comparison below cannot silently miss a file
    val posTargets: Set[String] =
      if (posDeletes.isEmpty) Set.empty
      else t.spark.read.parquet(posDeletes.map(_.path): _*)
        .select("file_path").distinct().collect()
        .map(r => graft.catalog.MorRead.posixPath(r.getString(0))).toSet
    val affected = m.currentFiles.filter(f =>
      f.dataSeq < maxSeq ||
        posTargets.contains(graft.catalog.MorRead.posixPath(f.path)))
    val staged =
      if (affected.isEmpty) Nil
      else {
        val applied = graft.catalog.MorRead.applyDeletes(t.spark,
          t.spark.read.schema(m.schema).parquet(affected.map(_.path): _*),
          affected, deletes, posDeletes)
        Stager.stage(applied, t.dataDir, "apply-deletes", m.partitionSpec,
          bloomColumns = GraftWriter.tableBloomColumns(m),
          sketchColumns = GraftWriter.tableSketchColumns(m))
      }
    val priorPaths = affected.map(_.path).toSet
    val plannedDeletes = m.currentDeletePaths
    // clearDeletes wipes the WHOLE delete list — refuse if a delete file
    // this pass did not apply arrived concurrently
    t.commit({ fresh =>
      fresh.requireNotSuperseded("apply-deletes", priorPaths,
        identical = false, Some(plannedDeletes))
      fresh.withSnapshotDelta("apply-deletes", None, staged, priorPaths,
        clearDeletes = true)
    }, unitMs = retryUnitMs, staged = staged.map(_.path))
    true
    }
  }

  /** Z-order clustering rewrite: re-sorts the table's rows along a Morton
    * (bit-interleaved) curve over `columns` so every data file covers a
    * narrow range in EACH clustering column simultaneously — min/max file
    * pruning then works for predicates on any of them, not just a lead
    * sort column (the Delta/Iceberg OPTIMIZE ZORDER idea).
    *
    * Scale shape: cost is one approximate-quantile aggregation pass plus
    * ONE range shuffle on the computed z-value — never a global sort.
    * Codes are equi-depth (256 quantile buckets per column), so skewed
    * distributions still spread evenly across files; boundary literals are
    * baked into codegen (driver holds 255 doubles per column). Rewrites
    * the WHOLE current row set; at 100 TB you'd run it per partition-spec
    * slice or on recent loads — composing that policy is the caller's
    * loop, the rewrite itself is this commit.
    *
    * Restricted to numeric/temporal columns. Partitioned tables zorder
    * WITHIN each partition-spec slice: the range shuffle keys on the
    * derived partition transforms FIRST and the z-value second, so files
    * stay partition-clustered (prunable on the spec) AND cover narrow
    * ranges in every z column — one shuffle, no per-partition job loop,
    * which is what survives a 10⁵-partition table at scale.
    * Content-neutral by construction; commits one "zorder" snapshot. */
  def zorder(t: GraftTable, columns: Seq[String], targetFiles: Int = 0,
      targetFileBytes: Long = 128L << 20, retryUnitMs: Long = 1000L): Boolean = {
    import org.apache.spark.sql.types._
    require(columns.nonEmpty && columns.size <= 4,
      "zorder takes 1-4 clustering columns")
    val m = t.metadata
    columns.foreach { c =>
      val dt = m.schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType ||
        dt == TimestampType || dt == TimestampNTZType,
        s"zorder column $c must be numeric or temporal, got $dt")
    }
    val files = m.currentFiles
    if (files.isEmpty) return false
    val df = t.read()

    // equi-depth 8-bit codes: 255 approx-quantile boundaries per column,
    // all from ONE aggregation pass; the per-row bucket lookup is the
    // codegen'd graft_qcode binary search (an unrolled literal-array fold
    // here blows the janino method limit and drops to interpreted rows)
    val bits = 8
    val pcts = (1 until (1 << bits)).map(i => i.toDouble / (1 << bits))
    val qRow = df.select(columns.map(c =>
      expr(s"percentile_approx(cast(`$c` as double), array(${pcts.mkString(",")}), 10000)")
        .as(c)): _*).head()
    val codes = columns.zipWithIndex.map { case (c, i) =>
      require(!qRow.isNullAt(i),
        s"zorder column $c has no non-null values; cannot derive quantile bounds")
      val bounds = qRow.getSeq[Double](i).distinct.sorted
      call_function("graft_qcode", col(c).cast("double"),
        lit(bounds.toArray))
    }
    // Morton interleave: bit b of column i lands at position b*k + i
    val k = columns.size
    val z = (0 until bits).flatMap(b => codes.zipWithIndex.map { case (c, i) =>
      shiftleft(shiftright(c, b).bitwiseAND(lit(1)).cast("long"), b * k + i)
    }).reduce(_ + _)

    val numOut =
      if (targetFiles > 0) targetFiles
      else math.max(1, math.ceil(
        files.map(_.sizeBytes).sum.toDouble / targetFileBytes).toInt)
    // partition transforms lead the range key so each output file lands
    // inside one partition slice (or a contiguous run of slices), with
    // z-locality within it
    val rangeCols = m.partitionSpec.map(s =>
      graft.partition.Transforms.expression(s, m.schema(s.source).dataType)) :+
      col("__graft_z")
    val rewritten = df.withColumn("__graft_z", z)
      .repartitionByRange(numOut, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("__graft_z")
    val staged = Stager.stage(rewritten, t.dataDir, "zorder", m.partitionSpec,
      bloomColumns = GraftWriter.tableBloomColumns(m),
      sketchColumns = GraftWriter.tableSketchColumns(m),
      preshaped = true)
    val priorPaths = files.map(_.path).toSet
    val plannedDeletes = m.currentDeletePaths
    // the whole-table restage read every live file with the deletes
    // t.read() saw at planning: refuse if any file or delete arrived
    // since, and clear the applied deletes
    t.commit({ fresh =>
      fresh.requireNotSuperseded("zorder", priorPaths, identical = true,
        Some(plannedDeletes))
      fresh.withSnapshotDelta("zorder", None, staged, priorPaths,
        clearDeletes = true)
    }, unitMs = retryUnitMs, staged = staged.map(_.path))
    true
  }

  /** Expire snapshots, keeping the most recent `keepLast` (the current
    * snapshot always survives). Data files referenced only by expired
    * snapshots are deleted from disk. Time travel remains valid for every
    * retained snapshot. */
  /** Minimum age before a STREAMING batch's snapshot may be expired
    * (property-overridable per table). Streaming replay detection works
    * by finding the batch's loadId in the snapshot ledger — expiring a
    * streaming snapshot inside the crash-restart window silently turns
    * a checkpoint replay into a DUPLICATE APPLY of the batch. Keep this
    * above the pipeline's worst-case restart latency. */
  val DefaultStreamExpireMinAgeMs: Long = 60L * 60 * 1000
  val StreamExpireMinAgeProp = "graft.stream.expire-min-age-ms"

  /** Streaming loadIds have the `<queryName>-batch-<id>` shape every
    * [[graft.streaming.StreamingLoader]] sink stamps. */
  private val StreamBatchLoadId = ".*-batch-\\d+$".r

  def expireSnapshots(t: GraftTable, keepLast: Int = 1,
      retryUnitMs: Long = 1000L, force: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    var removed: Seq[String] = Nil
    var removedManifests: Seq[String] = Nil
    var removedBodies: Seq[String] = Nil
    t.commit({ fresh =>
      // branch/tag chains stay live from their head down to the first
      // snapshot shared with main's ancestry (the branch point): publish
      // proves fast-forward safety by walking exactly that chain, so
      // expiring an intermediate branch snapshot would permanently block
      // a legitimate publish. Everything below the branch point ages out
      // under the normal keepLast rule.
      val byId = fresh.snapshots.map(s => s.snapshotId -> s).toMap
      def chainOf(start: Option[Long]): Seq[Long] = {
        var cur = start
        val buf = Seq.newBuilder[Long]
        while (cur.isDefined && byId.contains(cur.get)) {
          buf += cur.get
          cur = byId(cur.get).parentId
        }
        buf.result()
      }
      val mainChain = chainOf(fresh.currentSnapshotId).toSet
      val refChains = fresh.refs.getOrElse(Map.empty).values.flatMap { head =>
        val buf = Seq.newBuilder[Long]
        var cur: Option[Long] = Some(head)
        var done = false
        while (!done && cur.isDefined && byId.contains(cur.get)) {
          buf += cur.get
          if (mainChain.contains(cur.get)) done = true
          else cur = byId(cur.get).parentId
        }
        buf.result()
      }.toSet
      val keep = fresh.snapshots.sortBy(_.snapshotId).takeRight(keepLast) ++
        fresh.currentSnapshot.toSeq ++
        refChains.flatMap(id => fresh.snapshots.find(_.snapshotId == id))
      val keepIds = keep.map(_.snapshotId).toSet
      val retained = fresh.snapshots.filter(s => keepIds.contains(s.snapshotId))
      val expired = fresh.snapshots.filterNot(s => keepIds.contains(s.snapshotId))
      // streaming-replay guard: refuse (without force) to expire a
      // streaming batch's snapshot younger than the retention floor —
      // the snapshot ledger IS the exactly-once state, and a crashed
      // stream restarting after this expiry would re-apply the batch
      if (!force) {
        val floorMs = fresh.properties.get(StreamExpireMinAgeProp)
          .map(_.toLong).getOrElse(DefaultStreamExpireMinAgeMs)
        val now = System.currentTimeMillis()
        val risky = expired.filter(s =>
          s.loadId.exists(id =>
            StreamBatchLoadId.pattern.matcher(id).matches()) &&
            now - s.timestampMs < floorMs)
        if (risky.nonEmpty)
          throw new graft.catalog.ValidationError(
            s"expire_snapshots on ${fresh.identifier}: refusing to expire " +
              s"${risky.size} streaming batch snapshot(s) younger than the " +
              s"${floorMs} ms retention floor (loadIds " +
              s"${risky.flatMap(_.loadId).take(3).mkString(", ")}…) — a " +
              s"crashed stream restarting after this expiry would re-apply " +
              s"those batches. Raise keep_last, lower " +
              s"'$StreamExpireMinAgeProp', or pass force => true")
      }
      val liveFiles = retained.flatMap(_.dataFiles.map(_.path)).toSet
      removed = expired.flatMap(_.dataFiles.map(_.path))
        .distinct.filterNot(liveFiles.contains)
      // manifests and MoR delete files referenced only by expired
      // snapshots go too
      val liveManifests = retained.flatMap(_.manifestPaths).toSet ++
        retained.flatMap(_.deletes.map(_.path)) ++
        retained.flatMap(_.posDeletes.map(_.path))
      removedManifests = (expired.flatMap(_.manifestPaths) ++
        expired.flatMap(_.deletes.map(_.path)) ++
        expired.flatMap(_.posDeletes.map(_.path)))
        .distinct.filterNot(liveManifests.contains)
      // externalized snapshot bodies referenced only by expired snapshots
      // (rollback shares a body by path, so ref-count like manifests)
      val liveBodies = retained.flatMap(_.bodyPath).toSet
      removedBodies = expired.flatMap(_.bodyPath)
        .distinct.filterNot(liveBodies.contains)
      fresh.copy(snapshots = retained)
    }, unitMs = retryUnitMs)
    removed.foreach(p => Files.deleteIfExists(Paths.get(p)))
    removedManifests.foreach { p =>
      Files.deleteIfExists(Paths.get(p))
      graft.catalog.ManifestIO.invalidate(p)
    }
    removedBodies.foreach { p =>
      Files.deleteIfExists(Paths.get(p))
      graft.catalog.SnapBodyIO.invalidate(p)
    }
    removed
  }

  /** Delete data files on disk that no snapshot references — cleans up
    * rebase/abort orphans left by the optimistic-concurrency write path.
    * `minAgeMs` is the standard safety margin against racing an in-flight
    * stage that hasn't committed yet: a concurrent writer creates its
    * manifest and data files BEFORE its CAS commit, and a vacuum racing
    * that window would see them unreferenced and delete them out from
    * under the winning snapshot (Iceberg's remove_orphan_files has the
    * same guard). The default (10 min) must stay >> max commit latency;
    * 0 is only safe when no concurrent writer can be in flight. */
  val DefaultVacuumMinAgeMs: Long = 10L * 60 * 1000

  def vacuumOrphans(t: GraftTable, minAgeMs: Long = DefaultVacuumMinAgeMs): Seq[String] = {
    if (!Files.isDirectory(t.dataDir)) return Nil
    val m = t.metadata
    def absolute(paths: Seq[String]): Set[String] =
      paths.map(p => Paths.get(p).toAbsolutePath.toString).toSet
    val referenced = absolute(m.snapshots.flatMap(s => s.dataFiles.map(_.path) ++
      s.deletes.map(_.path) ++ s.posDeletes.map(_.path)))
    // Spark's sidecars live as long as what they describe: a `_SUCCESS`
    // while its directory holds a referenced file, a `.<name>.crc` while
    // `<name>` is live
    val referencedDirs = referenced.flatMap(p =>
      Iterator.iterate(Paths.get(p).getParent)(_.getParent)
        .takeWhile(_ != null).map(_.toString))
    def live(p: Path): Boolean = {
      val name = p.getFileName.toString
      referenced.contains(p.toString) ||
        (name == "_SUCCESS" && referencedDirs.contains(p.getParent.toString)) ||
        (name.startsWith(".") && name.endsWith(".crc") &&
          live(p.resolveSibling(name.stripPrefix(".").stripSuffix(".crc"))))
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    // MoR delete files stage under dir/deletes — same orphan rules
    val deletesDir = t.dir.resolve("deletes")
    val scanRoots = Seq(t.dataDir) ++
      (if (Files.isDirectory(deletesDir)) Seq(deletesDir) else Nil)
    val orphans = scanRoots.flatMap(root =>
      graft.catalog.PathIO.walk(root)
        .filter(p => Files.isRegularFile(p))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .map(_.toAbsolutePath)
        .filterNot(live)
        .map(_.toString))
    orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    // manifests and externalized snapshot bodies left by failed/rebased
    // CAS attempts: delete any no snapshot references (same age guard)
    val liveMeta = absolute(m.snapshots.flatMap(s => s.manifestPaths ++ s.bodyPath))
    graft.catalog.PathIO.list(t.metadataDir)
      .filter(p => Seq("manifest-", "snapbody-").exists(p.getFileName.toString.startsWith))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
      .filter(p => !liveMeta.contains(p.toAbsolutePath.toString))
      .foreach { p =>
        Files.deleteIfExists(p)
        graft.catalog.ManifestIO.invalidate(p.toString)
        graft.catalog.SnapBodyIO.invalidate(p.toString)
      }
    // remove now-empty staging dirs
    scanRoots.foreach(root => graft.catalog.PathIO.walk(root).reverse
      .filter(p => Files.isDirectory(p) && p != root)
      .foreach { d =>
        if (graft.catalog.PathIO.isEmptyDir(d)) Files.deleteIfExists(d)
      })
    orphans
  }
}
