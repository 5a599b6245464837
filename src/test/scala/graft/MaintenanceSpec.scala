package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** Maintenance ops: compaction is content-neutral, expiry prunes history
  * and deletes unreferenced files, vacuum removes orphans. */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-mt-").toString)

  private val cfg = WriteConfig(retryUnitMs = 1)

  test("compact bin-packs small files, row set unchanged, history intact") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    (1 to 5).foreach { i =>
      w.writeTable("main", "t", Seq(Seq((i.toLong, s"v$i")).toDF("id", "v")),
        Append, cfg, s"l$i")
    }
    val t = cat.loadTable("main", "t")
    val before = t.metadata.currentFiles.size
    assert(before >= 5)
    val preRows = t.read().orderBy("id").collect().toSeq

    assert(Maintenance.compact(t, smallFileBytes = 1L << 20,
      targetFileBytes = 4L << 20, retryUnitMs = 1))
    val after = t.metadata
    assert(after.currentFiles.size < before)
    assert(after.currentSnapshot.get.operation == "compact")
    assert(t.read().orderBy("id").collect().toSeq == preRows)
    // compacting again is a no-op (single output file left)
    assert(!Maintenance.compact(t, smallFileBytes = 1L << 20,
      targetFileBytes = 4L << 20, retryUnitMs = 1))
  }

  test("zorder: content-neutral, files cover narrow ranges on EVERY clustering column") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    // two independent uniform columns; written hash-shuffled so every
    // file initially spans the full range of both (worst case for pruning)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 16384).map(i =>
      (i.toLong, rnd.nextInt(1024), rnd.nextInt(1024)))
    val df = rows.toDF("id", "x", "y").repartition(16, $"id")
    w.writeTable("main", "t", Seq(df), Append, cfg, "l1")
    val t = cat.loadTable("main", "t")
    val nFiles = t.metadata.currentFiles.size
    assert(nFiles >= 12, s"expected many files, got $nFiles")
    val preRows = t.read().orderBy("id").collect().toSeq

    // pre-zorder: a narrow y-slab prunes (almost) nothing
    def filesHit(c: String, lo: Int, hi: Int): Int =
      StatsPrune.files(t.metadata, Seq(StatsPrune.between(c,
        Stager.canonicalKey(IntegerType, lo), Stager.canonicalKey(IntegerType, hi)))).size
    assert(filesHit("y", 0, 255) >= nFiles - 1)

    assert(Maintenance.zorder(t, Seq("x", "y"), targetFiles = 16, retryUnitMs = 1))
    val m2 = t.metadata
    assert(m2.currentSnapshot.get.operation == "zorder")
    // content-neutral
    assert(t.read().orderBy("id").collect().toSeq == preRows)
    // a quarter-range slab on EITHER column now opens a fraction of the
    // files (ideal 4x4 Morton grid: 4 of 16). Slack: +1 beyond half —
    // the range cut samples via RangePartitioner whose size-tie
    // breaking follows the UUID-named staged-file listing order, so the
    // exact boundary alignment wobbles by one file across runs.
    val nAfter = t.metadata.currentFiles.size
    assert(filesHit("x", 0, 255) <= nAfter / 2 + 1,
      s"x-slab hit ${filesHit("x", 0, 255)} of $nAfter files")
    assert(filesHit("y", 0, 255) <= nAfter / 2 + 1,
      s"y-slab hit ${filesHit("y", 0, 255)} of $nAfter files")
    // and the pruned scan returns exactly the right rows
    val expect = rows.filter(r => r._3 >= 0 && r._3 <= 255).map(_._1).sorted
    assert(t.scanRange("y", 0, 255).collect().map(_.getLong(0)).sorted.toSeq == expect)
  }

  test("zorder within partitions: spec clustering kept, non-lead column prunes") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val rnd = new scala.util.Random(11)
    // two partition groups, two independent uniform columns, written
    // hash-shuffled so files initially span everything
    val rows = (0 until 16384).map(i =>
      (i.toLong, if (i % 2 == 0) "A" else "B", rnd.nextInt(1024), rnd.nextInt(1024)))
    val df = rows.toDF("id", "grp", "x", "y").repartition(16, $"id")
    w.writeTable("main", "p", Seq(df),
      Append, cfg.copy(partitions =
        Seq(graft.partition.PartitionHint.identity("grp"))), "l1")
    val t = cat.loadTable("main", "p")
    val preRows = t.read().orderBy("id").collect().toSeq

    assert(Maintenance.zorder(t, Seq("x", "y"), targetFiles = 16, retryUnitMs = 1))
    val m2 = t.metadata
    assert(m2.currentSnapshot.get.operation == "zorder")
    // content-neutral
    assert(t.read().orderBy("id").collect().toSeq == preRows)
    val after = m2.currentFiles
    // files keep the partition clustering: each covers ONE grp value
    // (derived identity stats: min == max), so spec pruning still works
    val single = after.count(f => f.stats.get("grp")
      .exists(st => st.min.isDefined && st.min == st.max))
    assert(single >= after.size - 2,
      s"only $single of ${after.size} files are partition-pure")
    // and a quarter-range slab on the NON-lead z column opens a fraction
    def filesHit(c: String, lo: Int, hi: Int): Int =
      StatsPrune.files(m2, Seq(StatsPrune.between(c,
        Stager.canonicalKey(IntegerType, lo), Stager.canonicalKey(IntegerType, hi)))).size
    assert(filesHit("y", 0, 255) <= after.size / 2,
      s"y-slab hit ${filesHit("y", 0, 255)} of ${after.size} files")
    val expect = rows.filter(r => r._4 >= 0 && r._4 <= 255).map(_._1).sorted
    assert(t.scanRange("y", 0, 255).collect().map(_.getLong(0)).sorted.toSeq == expect)
  }

  test("expireSnapshots keeps recent history and deletes dead files") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq(1L).toDF("x")), Append, cfg, "l1")
    w.writeTable("main", "t", Seq(Seq(2L).toDF("x")), Replace, cfg, "l2")
    w.writeTable("main", "t", Seq(Seq(3L).toDF("x")), Append, cfg, "l3")
    val t = cat.loadTable("main", "t")
    val l1Files = t.metadata.snapshots.head.dataFiles.map(_.path)
    assert(t.metadata.snapshots.size == 3)

    val removed = Maintenance.expireSnapshots(t, keepLast = 2, retryUnitMs = 1)
    assert(t.metadata.snapshots.size == 2)
    // l1's file was only referenced by the expired snapshot (l2 replaced it)
    assert(removed.toSet == l1Files.toSet)
    assert(l1Files.forall(p => !Files.exists(Paths.get(p))))
    // current data unaffected
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("pipeline auto-maintenance bounds file and snapshot counts across loads") {
    import graft.pipeline.{GraftPipeline, MaintenancePolicy}
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main",
      policy = MaintenancePolicy(compactEveryLoads = 4, smallFileBytes = 1L << 20,
        expireEveryLoads = 4, keepSnapshots = 6, retryUnitMs = 1))
    (1 to 12).foreach { i =>
      p.stage("t", Seq((i.toLong, s"v$i")).toDF("id", "v"))
      p.completeLoad(s"load_$i")
    }
    val t = cat.loadTable("main", "t")
    // 12 appends would leave >=12 files and 12 snapshots without the policy
    assert(t.metadata.currentFiles.size <= 6,
      s"file count ${t.metadata.currentFiles.size} not bounded by auto-compact")
    assert(t.metadata.snapshots.size <= 8,
      s"snapshot count ${t.metadata.snapshots.size} not bounded by auto-expiry")
    // content is untouched by maintenance
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == (1L to 12L))
    assert(p.loads().count() == 12)

    // the ledger is bounded too, and compaction rebuilt its load_id
    // blooms from the table property — probes still prune-and-hit
    val ledger = cat.loadTable("main", graft.pipeline.GraftPipeline.LoadsTable)
    assert(ledger.metadata.currentFiles.size <= 6,
      s"ledger files ${ledger.metadata.currentFiles.size} not bounded")
    assert(ledger.metadata.currentFiles.forall(
      _.stats.get("load_id").exists(_.bloom.isDefined)),
      "compacted ledger files lost their blooms")
    assert(p.loadRecordExists("load_7"))
    assert(!p.loadRecordExists("load_99"))
  }

  test("compaction races with concurrent appends without losing rows") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq(0L).toDF("x")), Append, cfg, "l0")
    val t = cat.loadTable("main", "t")
    val raceCfg = cfg.copy(maxRetries = 30)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val futures = (1 to 9).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = w.writeTable("main", "t",
          Seq(Seq(i.toLong).toDF("x")), Append, raceCfg, s"l$i")
      })
    }
    // compact while appends land: superseded attempts abort cleanly
    var superseded = 0
    (1 to 5).foreach { _ =>
      try Maintenance.compact(t, smallFileBytes = 1L << 20,
        targetFileBytes = 4L << 20, retryUnitMs = 1)
      catch { case _: ValidationError => superseded += 1 }
    }
    futures.foreach(_.get())
    pool.shutdown()
    // quiesced: one more compact must succeed and change nothing
    try Maintenance.compact(t, smallFileBytes = 1L << 20,
      targetFileBytes = 4L << 20, retryUnitMs = 1)
    catch { case _: ValidationError => () }
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == (0L to 9L))
  }

  test("partitioned compaction rebuilds transform stats AND blooms; pruning intact") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "user_id")),
      bloomColumns = Seq("user_id"))
    // at this toy volume AQE would coalesce the bucket repartition to one
    // partition per load (file-per-bucket only emerges at real scale) —
    // disable it here so the layout under test matches the scale layout
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val t = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      (1 to 5).foreach { b =>
        val rows = (0 until 40).map(i => ((b * 100 + i).toLong, s"u$b-$i"))
        w.writeTable("main", "pt", Seq(rows.toDF("user_id", "v")), Append, cfg, s"l$b")
      }
      val t = cat.loadTable("main", "pt")
      val before = t.metadata.currentFiles.size
      assert(before >= 8, s"expected bucketed multi-file layout, got $before")
      assert(Maintenance.compact(t, smallFileBytes = 1L << 20,
        targetFileBytes = 64L << 20, retryUnitMs = 1))
      t
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)

    val m = cat.loadTable("main", "pt").metadata
    val files = m.currentFiles
    assert(files.size <= 4,
      s"compaction should bin-pack to at most one file per bucket, got ${files.size}")
    // every compacted file carries DERIVED bucket stats and key blooms
    assert(files.forall(_.stats.contains("user_id_bucket_4")),
      "compaction must rebuild partition-transform stats")
    assert(files.forall(_.stats("user_id").bloom.isDefined),
      "compaction must rebuild key blooms")
    // bucket-hash staging co-locates equal buckets, so each file covers a
    // strict subset of the bucket domain...
    assert(files.exists { f =>
      val s = f.stats("user_id_bucket_4")
      s.min == s.max
    }, "expected at least one single-bucket file after clustered compaction")
    // ...and a w10-style derived-column scan still prunes
    val pruned = StatsPrune.files(m, Seq(StatsPrune.between("user_id_bucket_4", "0", "0")))
    assert(pruned.size < files.size,
      s"bucket stats pruned nothing: ${pruned.size} of ${files.size}")
    // point lookup prunes through bucket stats + bloom and stays correct
    assert(t.readPointLookup("user_id", 307L).count() == 1)
    assert(cat.loadTable("main", "pt").read().count() == 200)
  }

  test("vacuumOrphans removes unreferenced staging files only") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq(1L, 2L).toDF("x")), Append, cfg, "l1")
    val t = cat.loadTable("main", "t")
    // plant an orphan (as a failed/rebased stage would leave)
    val orphanDir = t.dataDir.resolve("orphan-stage")
    Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("junk.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))

    // default min-age must NOT delete a just-written file (it could be a
    // concurrent writer's uncommitted stage)
    assert(Maintenance.vacuumOrphans(t).isEmpty)
    assert(Files.exists(orphan))
    // explicit 0 (single-writer maintenance window) collects it
    val removed = Maintenance.vacuumOrphans(t, minAgeMs = 0L)
    assert(removed.exists(_.endsWith("junk.parquet")))
    assert(!Files.exists(orphan))
    assert(t.read().count() == 2) // live data untouched
  }

  test("vacuumOrphans keeps live files' sidecars and reclaims a dropped file's") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val pk = cfg.copy(primaryKey = Seq("x"))
    w.writeTable("main", "t", Seq(Seq(1L, 2L).toDF("x")), Append, cfg, "l1")
    w.writeTable("main", "t", Seq(Seq(3L).toDF("x")), Append, cfg, "l2")
    w.writeTable("main", "t", Seq(Seq(2L, 4L).toDF("x")), Merge("upsert"), pk, "l3")
    w.writeTable("main", "t", Seq(Seq(5L).toDF("x")), Merge("upsert"),
      pk.copy(mergeOnRead = true), "l4")
    val t = cat.loadTable("main", "t")
    // Spark's _SUCCESS and .crc files next to committed output are not
    // orphans
    assert(Maintenance.vacuumOrphans(t, minAgeMs = 0L).isEmpty)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))

    // once expiry deletes a dropped file, its sidecars go with the next
    // vacuum
    w.writeTable("main", "t", Seq(Seq(9L).toDF("x")), Replace, cfg, "l5")
    val dropped = Maintenance.expireSnapshots(t, keepLast = 1, retryUnitMs = 1)
    assert(dropped.nonEmpty)
    val reclaimed = Maintenance.vacuumOrphans(t, minAgeMs = 0L)
    for (p <- dropped) {
      val f = Paths.get(p).toAbsolutePath
      assert(reclaimed.contains(f.resolveSibling(s".${f.getFileName}.crc").toString),
        s"sidecar of $p not reclaimed: $reclaimed")
    }
    assert(reclaimed.forall { p =>
      val n = Paths.get(p).getFileName.toString
      n == "_SUCCESS" || n.endsWith(".crc")
    }, s"vacuum reclaimed a non-sidecar file: $reclaimed")
    assert(Maintenance.vacuumOrphans(t, minAgeMs = 0L).isEmpty)
    assert(t.read().as[Long].collect().toSeq == Seq(9L))
  }

  test("externalized snapshot bodies: expire ref-counts them, vacuum collects orphans, rollback shares") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val morCfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "x", Seq((1 to 50).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, morCfg, "l0")
    // 12 trickle upserts push the snapshot past InlineSnapshotEntryMax:
    // later snapshots externalize (bodyPath set, inline lists None)
    (1 to 12).foreach { i =>
      w.writeTable("main", "x", Seq(Seq((i.toLong, 100 + i)).toDF("id", "v")),
        Merge("upsert"), morCfg, s"m$i")
    }
    val t = cat.loadTable("main", "x")
    val head = t.metadata.currentSnapshot.get
    assert(head.bodyPath.isDefined && head.manifestRefs.isEmpty &&
      head.deleteFiles.isEmpty,
      s"deep trickle snapshot must externalize: $head")
    assert(head.deletes.size == 12 && head.summary.isDefined)
    // metadata JSON stays O(1) per externalized snapshot
    assert(Files.exists(Paths.get(head.bodyPath.get)))

    // rollback SHARES the target body by path (no copy)
    val targetId = head.snapshotId
    t.rollbackTo(targetId)
    val rolled = cat.loadTable("main", "x").metadata.currentSnapshot.get
    assert(rolled.bodyPath == head.bodyPath && rolled.operation == "rollback")
    assert(cat.loadTable("main", "x").read().count() == 50)

    // expire: bodies referenced only by expired snapshots are deleted;
    // the shared body survives because the rollback head still holds it
    val allBodies = cat.loadTable("main", "x").metadata.snapshots
      .flatMap(_.bodyPath).distinct
    Maintenance.expireSnapshots(cat.loadTable("main", "x"), keepLast = 1,
      retryUnitMs = 1)
    val live = cat.loadTable("main", "x").metadata.snapshots
      .flatMap(_.bodyPath).toSet
    assert(live.contains(head.bodyPath.get),
      "shared body of the retained rollback snapshot must survive")
    allBodies.filterNot(live.contains).foreach(p =>
      assert(!Files.exists(Paths.get(p)), s"expired body $p must be deleted"))
    assert(cat.loadTable("main", "x").read().count() == 50)

    // vacuum: an orphan snapbody (failed CAS residue) is collected
    val md = cat.loadTable("main", "x").metadataDir
    val orphan = md.resolve("snapbody-orphan-test.json")
    Files.write(orphan, "{}".getBytes)
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    Maintenance.vacuumOrphans(cat.loadTable("main", "x"), minAgeMs = 0L)
    assert(!Files.exists(orphan), "orphan snapbody must be vacuumed")
    live.foreach(p => assert(Files.exists(Paths.get(p)),
      "live bodies must survive vacuum"))
    assert(cat.loadTable("main", "x").read().count() == 50)
  }

  test("delete-backlog signal fires past the ratio property and clears after apply_deletes") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val morCfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "b", Seq((1 to 100).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, morCfg, "l0")
    // fresh table: no backlog, no signal
    val t0 = cat.loadTable("main", "b")
    val r0 = Maintenance.deleteBacklog(t0)
    assert(r0.deleteRows == 0L && !r0.needsMaintenance)

    // accumulate trickle merges: each upsert commits a delete-key file
    (1 to 8).foreach { i =>
      w.writeTable("main", "b", Seq(Seq(((i % 100).toLong + 1L, 1000 + i))
        .toDF("id", "v")), Merge("upsert"), morCfg, s"m$i")
    }
    val t1 = cat.loadTable("main", "b")
    val r1 = Maintenance.deleteBacklog(t1)
    // 8 single-key delete files over ~100 base rows: under the default
    // 0.10 ratio? dataRows grew by the upsert rows too — compute exactly
    assert(r1.eqDeleteRows == 8L && r1.deleteFileCount >= 8)
    assert(r1.ratio == 8.0 / r1.dataRows)
    // tighten the table's own threshold below the current ratio: fires
    t1.commit(m => m.copy(properties =
      m.properties + (Maintenance.MaxDeleteRatioProp -> "0.05")), unitMs = 1)
    val r2 = Maintenance.deleteBacklog(cat.loadTable("main", "b"))
    assert(r2.overRatio && r2.needsMaintenance,
      s"ratio ${r2.ratio} must trip the 0.05 property: $r2")
    // the file-count arm: read cost tracks outstanding delete FILES
    // (each scan re-reads them all), so the signal has its own threshold
    val t2 = cat.loadTable("main", "b")
    t2.commit(m => m.copy(properties =
      m.properties + (Maintenance.MaxDeleteFilesProp -> "5")), unitMs = 1)
    val rf = Maintenance.deleteBacklog(cat.loadTable("main", "b"))
    assert(rf.overFiles && rf.needsMaintenance,
      s"8 delete files must trip the 5-file property: $rf")
    // the driver-gate arm pairs with the scan layer's threshold
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    spark.conf.set(graft.catalog.MorRead.DriverStateMaxRowsKey, "3")
    try {
      val r3 = Maintenance.deleteBacklog(cat.loadTable("main", "b"))
      assert(r3.overDriverGate,
        "backlog past the scan gate must flag maintenance")
    } finally spark.conf.unset(graft.catalog.MorRead.DriverStateMaxRowsKey)
    // maintenance clears the signal (and the read-side cost)
    assert(Maintenance.applyDeletes(cat.loadTable("main", "b"), retryUnitMs = 1))
    val r4 = Maintenance.deleteBacklog(cat.loadTable("main", "b"))
    assert(r4.deleteRows == 0L && !r4.needsMaintenance)
    assert(cat.loadTable("main", "b").read().count() == 100L)
  }

  test("auto-apply-deletes: opted-in tables self-maintain past the threshold; opted-out tables accumulate") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val morCfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "a", Seq((1 to 100).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, morCfg, "l0")
    // opt in with a tight file threshold: the 4th outstanding delete
    // file (commit N with backlog > 3) triggers an inline apply
    cat.loadTable("main", "a").commit(m => m.copy(properties = m.properties
      + (Maintenance.AutoApplyDeletesProp -> "true")
      + (Maintenance.MaxDeleteFilesProp -> "3")), unitMs = 1)
    (1 to 10).foreach { i =>
      w.writeTable("main", "a", Seq(Seq((i.toLong, 1000 + i))
        .toDF("id", "v")), Merge("upsert"), morCfg, s"m$i")
    }
    val t = cat.loadTable("main", "a")
    val r = Maintenance.deleteBacklog(t)
    assert(r.deleteFileCount <= 3,
      s"auto-apply must bound the resting backlog at the threshold: $r")
    assert(t.metadata.snapshots.exists(_.operation == "apply-deletes"),
      "the writer must have committed at least one maintenance snapshot")
    // the maintenance commits are content-neutral: upserted values win
    val rows = t.read().collect()
      .map(x => (x.getLong(0), x.getInt(1))).toMap
    assert(rows.size == 100)
    (1 to 10).foreach(i => assert(rows(i.toLong) == 1000 + i))
    // the same trickle on an opted-out table keeps its full backlog
    w.writeTable("main", "noauto", Seq((1 to 100).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, morCfg, "l0")
    (1 to 10).foreach { i =>
      w.writeTable("main", "noauto", Seq(Seq((i.toLong, 1000 + i))
        .toDF("id", "v")), Merge("upsert"), morCfg, s"m$i")
    }
    val rn = Maintenance.deleteBacklog(cat.loadTable("main", "noauto"))
    assert(rn.deleteFileCount == 10,
      s"default-off: the backlog must accumulate untouched: $rn")
  }

  test("compaction restores a declared sort-order layout instead of destroying it") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "cs", Seq(Seq((0L, 0L)).toDF("id", "score").limit(0)),
      Append, cfg, "l0")
    cat.loadTable("main", "cs").commit(m => m.copy(properties =
      m.properties + (GraftWriter.SortOrderProperty -> "score")), unitMs = 1)
    // many small loads: each is range-clustered internally, but files
    // from DIFFERENT loads overlap — compaction must merge them back
    // into globally disjoint key ranges
    (0 until 6).foreach { b =>
      w.writeTable("main", "cs",
        Seq((1L to 200L).map(i => (b * 1000L + i, (i * 48271L + b) % 7919L))
          .toDF("id", "score")),
        Append, cfg, s"l$b")
    }
    val before = cat.loadTable("main", "cs").read().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Maintenance.compact(cat.loadTable("main", "cs"),
      smallFileBytes = 1L << 30, targetFileBytes = 3L << 10, retryUnitMs = 1))
    val t = cat.loadTable("main", "cs")
    // content-neutral
    assert(t.read().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == before)
    // and re-clustered: compacted files cover disjoint score ranges again
    val files = t.metadata.currentFiles.filter(_.rowCount > 1)
    assert(files.size >= 2, s"want multiple compacted files, got ${files.size}")
    val ranges = files.map(f => (f.stats("score").min.get.toLong,
      f.stats("score").max.get.toLong)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"compacted sorted files must not overlap: $ranges")
      case _ => ()
    }
  }

  test("auto-apply under concurrent writers: best-effort maintenance never loses an upsert") {
    // four writers trickle MoR upserts into ONE opted-in table with a
    // tight threshold, so inline apply-deletes commits race the other
    // writers' upsert commits from inside the write path. The contract:
    // maintenance is best-effort (a superseded rewrite yields, the
    // already-committed upsert stands), so every upsert must land, the
    // CAS chain must stay gapless, and the end state must equal the
    // pure-upsert result — maintenance is content-neutral under race too
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val morCfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "c", Seq((1 to 200).map(i => (i.toLong, 0))
      .toDF("id", "v")), Append, morCfg, "l0")
    cat.loadTable("main", "c").commit(m => m.copy(properties = m.properties
      + (Maintenance.AutoApplyDeletesProp -> "true")
      + (Maintenance.MaxDeleteFilesProp -> "2")), unitMs = 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until 4).foreach { th =>
      pool.submit(new Runnable {
        def run(): Unit =
          try (1 to 5).foreach { i =>
            val key = (th * 50 + i).toLong
            w.writeTable("main", "c", Seq(Seq((key, 1)).toDF("id", "v")),
              Merge("upsert"), morCfg, s"t$th-$i")
          } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty,
      s"upserts must survive racing inline maintenance: ${errs.peek()}")
    val t = cat.loadTable("main", "c")
    val rows = t.read().collect().map(x => (x.getLong(0), x.getInt(1))).toMap
    assert(rows.size == 200, s"row set must be stable, got ${rows.size}")
    (0 until 4).foreach(th => (1 to 5).foreach { i =>
      assert(rows((th * 50 + i).toLong) == 1, s"upsert th=$th i=$i lost")
    })
    assert(rows.count(_._2 == 0) == 180, "untouched rows must keep v=0")
    // gapless CAS chain: every commit (upsert, property, any maintenance)
    // observed its predecessor
    val ids = t.metadata.snapshots.map(_.snapshotId).sorted
    assert(ids == (1L to ids.size.toLong),
      s"snapshot chain must be gapless, got $ids")
  }

  test("file_health signal + auto-compact bound a trickle-append file population") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    // no auto-compact: a 10-commit trickle leaves 10 small files and the
    // health signal fires once the count passes the table's threshold
    (1 to 10).foreach { i =>
      w.writeTable("main", "h", Seq(Seq((i.toLong, s"v$i")).toDF("id", "v")),
        Append, cfg, s"l$i")
    }
    val t0 = cat.loadTable("main", "h")
    val h0 = Maintenance.fileHealth(t0)
    assert(h0.fileCount == 10 && h0.smallFileCount == 10 &&
      !h0.needsCompaction, h0)
    t0.commit(m => m.copy(properties =
      m.properties + (Maintenance.MaxSmallFilesProp -> "4")), unitMs = 1)
    val h1 = Maintenance.fileHealth(cat.loadTable("main", "h"))
    assert(h1.needsCompaction, h1)
    // the signal is also served through CALL system.file_health
    spark.conf.set("spark.sql.catalog.gfh",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfh.warehouse",
      cat.warehousePath.toString)
    val r = spark.sql("CALL gfh.system.file_health('main.h')").collect()(0)
    assert(r.getInt(0) == 10 && r.getInt(1) == 10 && r.getBoolean(3), r)

    // opt in: the next commit pays the backlog down inline, and the
    // resting population stays bounded through a further trickle
    cat.loadTable("main", "h").commit(m => m.copy(properties =
      m.properties + (Maintenance.AutoCompactProp -> "true")), unitMs = 1)
    (11 to 20).foreach { i =>
      w.writeTable("main", "h", Seq(Seq((i.toLong, s"v$i")).toDF("id", "v")),
        Append, cfg, s"l$i")
    }
    val t1 = cat.loadTable("main", "h")
    assert(t1.metadata.snapshots.exists(_.operation == "compact"),
      "inline compaction must have fired during the trickle")
    val h2 = Maintenance.fileHealth(t1)
    assert(h2.fileCount <= 5,
      s"auto-compact must bound the resting population: $h2")
    // content-neutral: every appended row present exactly once
    assert(t1.read().collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L))
  }
}
