package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** Commit metadata cost must be O(delta), not O(table history) — on a
  * COLD JVM. Every real batch job is a fresh driver: if deciding manifest
  * reuse required re-reading every live manifest body, a table with 10⁴
  * loads would pay 10⁴ driver JSON reads per commit. Reuse is decided
  * from snapshot-stored [[ManifestRef]]s (identity + path bloom), so an
  * append performs ZERO manifest body reads and a merge opens only the
  * manifests that might lose a file. */
class ManifestScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = WriteConfig(retryUnitMs = 1)

  test("cold-JVM append commit reads ZERO manifest bodies after 100 loads") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-mfs-").toString)
    val w = new GraftWriter(cat)
    // 100 appends — metadata-only commits after the first few; each load
    // stages one parquet file and must reuse all parent manifests
    (1 to 100).foreach { i =>
      w.writeTable("main", "t", Seq(Seq((i.toLong, s"v$i")).toDF("id", "v")),
        Append, cfg, s"l$i")
    }
    val t = cat.loadTable("main", "t")
    // manifest merging bounds refs-per-snapshot (O(loads²) metadata
    // otherwise); 100 loads with Max=64/Target=32 leaves 34 live refs
    val nRefs = t.metadata.currentSnapshot.get.resolvedRefs.get.size
    assert(nRefs <= TableMetadata.MaxManifestsPerSnapshot,
      s"$nRefs manifest refs exceed the per-snapshot ceiling")

    // simulate a fresh driver: empty manifest cache
    ManifestIO.clearCacheForTesting()
    w.writeTable("main", "t", Seq(Seq((101L, "v101")).toDF("id", "v")),
      Append, cfg, "l101")
    assert(ManifestIO.bodyReads.get() == 0L,
      s"append commit read ${ManifestIO.bodyReads.get()} manifest bodies; " +
        "reuse must be decided from snapshot refs alone")

    // the scan path still materializes everything correctly
    assert(cat.loadTable("main", "t").read().count() == 101)
    // ...and metadata-only summaries never open bodies either
    ManifestIO.clearCacheForTesting()
    assert(cat.loadTable("main", "t").rowCount == 101L)
    cat.loadTable("main", "t").history().collect()
    assert(ManifestIO.bodyReads.get() == 0L,
      "rowCount/history must fold from refs without body reads")
  }

  test("manifest merging keeps total metadata O(loads), not O(loads^2)") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-mfm-").toString)
    val w = new GraftWriter(cat)
    (1 to 150).foreach { i =>
      w.writeTable("main", "t", Seq(Seq((i.toLong, s"v$i")).toDF("id", "v")),
        Append, cfg, s"l$i")
    }
    val t = cat.loadTable("main", "t")
    val m = t.metadata
    assert(m.currentSnapshot.get.resolvedRefs.get.size <=
      TableMetadata.MaxManifestsPerSnapshot)
    // every row still present exactly once through the merged manifests
    assert(t.read().count() == 150)
    assert(t.rowCount == 150L)
    // history depth 150: every snapshot's ref list is bounded by the
    // ceiling, so total metadata is LINEAR in loads (an unmerged design
    // carries the quadratic 150*151/2 = 11325 refs; measured ~6k here,
    // and the gap widens with every further load)
    val totalRefs = m.snapshots.map(_.manifestPaths.size).sum
    assert(totalRefs <= 150 * (TableMetadata.MaxManifestsPerSnapshot + 1),
      s"$totalRefs total refs across history — merging not engaging")
    assert(m.snapshots.forall(_.manifestPaths.size <=
      TableMetadata.MaxManifestsPerSnapshot))
    // time travel through pre-merge snapshots still resolves
    val early = m.snapshots.sortBy(_.snapshotId).apply(49)
    assert(t.readSnapshot(early.snapshotId).count() == 50)
  }

  test("cold-JVM delta commit with removals opens only bloom-hit manifests") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-mfd-").toString)
    val w = new GraftWriter(cat)
    (1 to 40).foreach { i =>
      w.writeTable("main", "t", Seq(Seq((i.toLong, s"v$i")).toDF("id", "v")),
        Append, cfg, s"l$i")
    }
    val t = cat.loadTable("main", "t")
    val m = t.metadata
    val refs = m.currentSnapshot.get.resolvedRefs.get
    assert(refs.size == 40)
    // remove the files of exactly one manifest
    val victim = ManifestIO.read(refs(17).path).map(_.path).toSet

    ManifestIO.clearCacheForTesting()
    val next = m.withSnapshotDelta("delete", Some("d1"), Nil, victim)
    // 1 affected read + rare path-bloom false positives; never O(40)
    assert(ManifestIO.bodyReads.get() <= 4,
      s"${ManifestIO.bodyReads.get()} body reads for a 1-manifest delete")
    val after = next.currentSnapshot.get.resolvedRefs.get
    assert(after.size == 39)
    assert(!after.exists(_.path == refs(17).path))
  }

  test("cold-JVM trickle merge opens only range-overlapping manifests") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-mfr-").toString)
    val w = new GraftWriter(cat)
    val mcfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"))
    // 40 appends with DISJOINT key ranges — each manifest's ref carries
    // its typed id range
    (1 to 40).foreach { i =>
      val rows = (1 to 5).map(j => ((i * 1000 + j).toLong, s"v$i-$j"))
      w.writeTable("main", "t", Seq(rows.toDF("id", "v").coalesce(1)),
        Append, mcfg, s"l$i")
    }
    val t = cat.loadTable("main", "t")
    val refs = t.metadata.currentSnapshot.get.resolvedRefs.get
    assert(refs.forall(r => r.colMin.exists(_.contains("id"))),
      "manifest refs must carry typed id ranges")

    // fresh driver: upsert 2 keys living in ONE manifest's range — the
    // planner must open only that manifest (+ rare bloom FPs), never all 40
    ManifestIO.clearCacheForTesting()
    w.writeTable("main", "t",
      Seq(Seq((17003L, "NEW3"), (17004L, "NEW4")).toDF("id", "v")),
      Merge("upsert"), mcfg, "up1")
    assert(ManifestIO.bodyReads.get() <= 6,
      s"${ManifestIO.bodyReads.get()} manifest body reads for a " +
        "single-range trickle merge on a 40-manifest table")
    val got = cat.loadTable("main", "t").read()
      .filter(col("id").isin(17003L, 17004L))
      .collect().map(_.getString(1)).sorted.toSeq
    assert(got == Seq("NEW3", "NEW4"))
    assert(cat.loadTable("main", "t").read().count() == 200)

    // digit-boundary regression at REF level: ranges spanning 9->10
    // thousand must compare numerically (lexical "9000" > "10003")
    val nineHit = StatsPrune.files(cat.loadTable("main", "t").metadata,
      Seq(StatsPrune.between("id", "9001", "9002")))
    assert(nineHit.nonEmpty && nineHit.forall(_.stats("id").min.get.startsWith("9")))
  }

  test("legacy bare-path snapshots upgrade to refs on the next commit") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-mfl-").toString)
    val t = cat.createTable("main", "t",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    // hand-craft a legacy snapshot: bare manifest path list, no refs
    val dest = t.dataDir.resolve("legacy")
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.parquet(dest.toString)
    val fs = graft.catalog.PathIO.list(dest)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => DataFile(p.toString, 3L, java.nio.file.Files.size(p), Map.empty))
      .toSeq
    val mp = ManifestIO.write(t.metadataDir, fs)
    t.commit({ m =>
      val s = Snapshot(m.nextSnapshotId, m.currentSnapshotId, 1000L,
        "append", Some("legacy"), manifests = Some(Seq(mp)))
      m.copy(currentSnapshotId = Some(s.snapshotId), snapshots = m.snapshots :+ s)
    }, unitMs = 1)
    assert(t.metadata.currentSnapshot.get.manifestRefs.isEmpty)

    // next delta commit materializes refs (one body read, paid once)...
    t.commit(_.withSnapshotDelta("append", Some("l2"), Nil, Set.empty), unitMs = 1)
    val refs = t.metadata.currentSnapshot.get.manifestRefs
    assert(refs.isDefined && refs.get.size == 1)
    assert(refs.get.head.path == mp && refs.get.head.rowCount == 3L)
    // ...and the one after that is free again
    ManifestIO.clearCacheForTesting()
    t.commit(_.withSnapshotDelta("append", Some("l3"), Nil, Set.empty), unitMs = 1)
    assert(ManifestIO.bodyReads.get() == 0L)
    assert(t.read().count() == 3)
  }

  test("50-load pipeline with maintenance policy: files, snapshots, commit cost all bounded") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-mfb-").toString)
    val p = new graft.pipeline.GraftPipeline(cat, "main",
      policy = graft.pipeline.MaintenancePolicy(
        compactEveryLoads = 8, expireEveryLoads = 16, keepSnapshots = 10,
        retryUnitMs = 1))
    val durations = (1 to 50).map { i =>
      val t0 = System.nanoTime()
      p.stage("events", Seq((i.toLong, s"e$i")).toDF("id", "payload"))
      p.completeLoad(f"load_$i%03d")
      (System.nanoTime() - t0) / 1e6
    }
    val t = cat.loadTable("main", "events")
    val m = t.metadata
    // compaction every 8 loads bounds the live file count
    assert(m.currentFiles.size <= 12,
      s"${m.currentFiles.size} live files after 50 loads with compaction")
    // expiry every 16 loads bounds retained snapshots (10 kept + up to 16
    // accrued between expiries + compaction snapshots in between)
    assert(m.snapshots.size <= 32,
      s"${m.snapshots.size} snapshots after 50 loads with expiry")
    // the ledger table is bounded by the same policy
    val ledger = cat.loadTable("main", "_dlt_loads").metadata
    assert(ledger.currentFiles.size <= 12)
    assert(t.read().count() == 50)
    assert(p.loads().count() == 50)

    // commit cost must not trend with load count: the slowest of the last
    // 10 loads stays within a small factor of the early-load median
    // (generous bound — maintenance loads include a compaction pass)
    val median = durations.take(20).sorted.apply(10)
    val lateMax = durations.takeRight(10).max
    assert(lateMax <= math.max(median * 8, 5000.0),
      f"late-load commit $lateMax%.0f ms vs early median $median%.0f ms — unbounded growth")

    // and on a cold JVM the NEXT load's commit work is O(current
    // manifests), never O(history)
    ManifestIO.clearCacheForTesting()
    p.stage("events", Seq((51L, "e51")).toDF("id", "payload"))
    p.completeLoad("load_051b")
    assert(ManifestIO.bodyReads.get() <= 64,
      s"${ManifestIO.bodyReads.get()} manifest body reads for one load on a cold JVM")
  }

  test("range-constancy claiming stays plan-time-bounded on a 100k-file metadata set") {
    import org.apache.spark.sql.types._
    // 100k synthetic DataFiles (day-grain-aligned stats, no bytes on
    // disk): 1000 days x 100 files/day, file j covers day 10000 + j/100
    // with v in [j*10, j*10+9]. The w42 claiming tier walks EVERY live
    // file's stat intervals at plan time — fine at 10^3 files, this pins
    // it at 10^5: the walk must stay linear and the whole claimed
    // aggregate must still answer from metadata with ZERO file IO (the
    // paths don't exist, so any attempted read would fail loudly).
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-claim100k-").toString)
    val t = cat.createTable("main", "big", StructType(Seq(
      StructField("d", DateType), StructField("v", LongType))))
    val files = (0 until 100000).map { j =>
      val day = (10000 + j / 100).toString
      DataFile(s"synthetic-$j", 10, 0, Map(
        "d" -> ColumnStats(Some(day), Some(day), Some(0L)),
        "v" -> ColumnStats(Some((j * 10L).toString),
          Some((j * 10L + 9).toString), Some(0L))))
    }
    t.commit(_.withSnapshot("append", None, files), unitMs = 1)
    spark.conf.set("spark.sql.catalog.g100k",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.g100k.warehouse",
      cat.warehousePath.toString)
    val lo = java.time.LocalDate.ofEpochDay(10250)
    val hi = java.time.LocalDate.ofEpochDay(10750)
    val t0 = System.nanoTime()
    val q = spark.sql(s"""SELECT COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx
      |FROM g100k.main.big
      |WHERE d >= DATE '$lo' AND d < DATE '$hi'""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    val row = q.collect()(0)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(plan.contains("graft-meta-agg"),
      s"day-aligned WHERE over 100k files must claim + fold from metadata:\n$plan")
    assert(row.getLong(0) == 500000L && row.getLong(1) == 250000L &&
      row.getLong(2) == 749999L, row)
    // generous CI bound — the point is "linear walk", not "fast JVM":
    // a quadratic or per-file-IO regression lands in minutes, not 20 s
    assert(elapsedMs < 20000,
      f"plan+fold over 100k file stats took $elapsedMs%.0f ms")
  }

  test("Iceberg export stays metadata-only on a 100k-file table") {
    import org.apache.spark.sql.types._
    // same synthetic shape (paths do not exist on disk, sizeBytes > 0 so
    // the exporter never stats them): export must write one manifest
    // with all 100k entries, touch ZERO data bytes, and stay linear
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-ice100k-").toString)
    val t = cat.createTable("main", "big", StructType(Seq(
      StructField("d", DateType), StructField("v", LongType))))
    val files = (0 until 100000).map { j =>
      val day = (10000 + j / 100).toString
      DataFile(s"/nonexistent/synthetic-$j", 10, 1024, Map(
        "d" -> ColumnStats(Some(day), Some(day), Some(0L)),
        "v" -> ColumnStats(Some((j * 10L).toString),
          Some((j * 10L + 9).toString), Some(0L))))
    }
    t.commit(_.withSnapshot("append", None, files), unitMs = 1)
    val t2 = cat.loadTable("main", "big")
    val t0 = System.nanoTime()
    val mdPath = graft.iceberg.IcebergInterop.exportTable(t2,
      nowMs = 1700000000000L)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(Files.exists(mdPath))
    // the import plan re-reads all 100k entries from the Avro manifests
    val plan = graft.iceberg.IcebergInterop.importPlan(
      t2.dir.resolve("iceberg").toString)
    assert(plan.files.size == 100000 &&
      plan.files.map(_.recordCount).sum == 1000000L)
    assert(elapsedMs < 30000,
      f"metadata-only export of 100k files took $elapsedMs%.0f ms")
  }
}
