package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import scala.jdk.CollectionConverters._

/** Ports of the reference's local-e2e catalog tier: table lifecycle,
  * 1-snapshot-per-load atomicity (`test_class_based_atomic.py`), drop
  * (`test_drop_tables.py`), concurrent-commit recovery
  * (`test_load_metadata_resilience.py`). */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-wh-").toString)

  private val userSchema = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("username", StringType, nullable = true),
    StructField("score", LongType, nullable = true)))

  /** Stage a DataFrame under the table's data dir and return DataFile
    * entries (stats come from the write path in graft.write; bare here
    * but for the row count, which reads answer COUNT from). */
  private def stage(t: GraftTable, df: DataFrame): Seq[DataFile] = {
    val dest = t.dataDir.resolve(java.util.UUID.randomUUID().toString)
    df.write.parquet(dest.toString)
    PathIO.list(dest)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => DataFile(p.toString, spark.read.parquet(p.toString).count(),
        Files.size(p), Map.empty))
  }

  test("namespace lifecycle: create, list, drop, not-empty guard") {
    val cat = freshCatalog()
    cat.createNamespace("analytics")
    assert(cat.namespaceExists("analytics"))
    assert(cat.listNamespaces() == Seq("analytics"))
    cat.createTable("analytics", "users", userSchema)
    intercept[NamespaceNotEmptyError] { cat.dropNamespace("analytics") }
    cat.dropNamespace("analytics", cascade = true)
    assert(!cat.namespaceExists("analytics"))
  }

  test("table lifecycle: create, exists, double-create fails, load, drop") {
    val cat = freshCatalog()
    cat.createTable("main", "users", userSchema)
    assert(cat.tableExists("main", "users"))
    assert(cat.listTables("main") == Seq("users"))
    intercept[TableAlreadyExistsError] { cat.createTable("main", "users", userSchema) }
    val t = cat.loadTable("main", "users")
    assert(t.metadata.schema == userSchema)
    assert(t.metadata.currentSnapshot.isEmpty)
    cat.dropTable("main", "users")
    assert(!cat.tableExists("main", "users"))
    intercept[NoSuchTableError] { cat.loadTable("main", "users") }
  }

  test("empty table reads as empty DataFrame with committed schema") {
    val cat = freshCatalog()
    val t = cat.createTable("main", "users", userSchema)
    val df = t.read()
    assert(df.schema.fieldNames.toSeq == Seq("user_id", "username", "score"))
    assert(df.count() == 0)
  }

  test("N staged files commit as ONE snapshot; 2 loads => 2 snapshots") {
    // test_class_based_atomic.py:100-103, :213-291
    val cat = freshCatalog()
    val t = cat.createTable("main", "events", StructType(Seq(
      StructField("event_id", LongType), StructField("v", LongType))))
    val load1 = stage(t, (1L to 60L).map(i => (i, i * 10)).toDF("event_id", "v").repartition(3)) ++
      stage(t, (61L to 100L).map(i => (i, i * 10)).toDF("event_id", "v").repartition(2))
    t.commit(_.withSnapshot("append", Some("load_1"), load1), unitMs = 1)
    assert(t.metadata.snapshots.size == 1)
    assert(t.read().count() == 100)

    val m2 = t.commit(m => m.withSnapshot("append", Some("load_2"),
      m.currentFiles ++ stage(t, (101L to 120L).map(i => (i, i)).toDF("event_id", "v"))), unitMs = 1)
    assert(m2.snapshots.size == 2)
    assert(t.read().count() == 120)
    assert(m2.snapshots.map(_.loadId.get) == Seq("load_1", "load_2"))
  }

  test("time travel reads historical snapshots; truncate keeps history") {
    val cat = freshCatalog()
    val t = cat.createTable("main", "ev", StructType(Seq(StructField("x", LongType))))
    t.commit(m => m.withSnapshot("append", Some("l1"), stage(t, (1L to 10L).toDF("x"))), unitMs = 1)
    val firstSnap = t.metadata.currentSnapshotId.get
    t.commit(m => m.withSnapshot("append", Some("l2"),
      m.currentFiles ++ stage(t, (11L to 15L).toDF("x"))), unitMs = 1)
    assert(t.read().count() == 15)
    assert(t.readSnapshot(firstSnap).count() == 10)
    cat.truncateTable("main", "ev")
    assert(t.read().count() == 0)
    assert(t.readSnapshot(firstSnap).count() == 10) // history retained
  }

  test("schema evolution on commit: old files null-fill new column") {
    val cat = freshCatalog()
    val t = cat.createTable("main", "ev", StructType(Seq(
      StructField("id", LongType), StructField("et", StringType))))
    t.commit(m => m.withSnapshot("append", Some("l1"),
      stage(t, Seq((1L, "a"), (2L, "b")).toDF("id", "et"))), unitMs = 1)
    // evolve: add nullable column, then append a file carrying it
    t.commit(m => {
      val evolved = graft.schema.SchemaEvolution.evolve(m.schema,
        StructType(Seq(StructField("id", LongType), StructField("et", StringType),
          StructField("new_field", StringType))))
      m.withSchema(evolved.schema).withSnapshot("append", Some("l2"),
        m.currentFiles ++ stage(t, Seq((3L, "c", "x")).toDF("id", "et", "new_field")))
    }, unitMs = 1)
    val rows = t.read().orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2)) // sparse null-fill
    assert(rows(2).getString(2) == "x")
    assert(t.metadata.schemaVersion == 2)
  }

  test("concurrent commits: CAS conflict -> rebase -> both land") {
    // test_load_metadata_resilience.py analogue, with real concurrency
    val cat = freshCatalog()
    val t = cat.createTable("main", "c", StructType(Seq(StructField("x", LongType))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val files = stage(t, Seq(i.toLong).toDF("x"))
          t.commit(m => m.withSnapshot("append", Some(s"load_$i"),
            m.currentFiles ++ files), maxRetries = 10, unitMs = 1)
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    assert(t.metadata.snapshots.size == 4)
    assert(t.read().count() == 4) // every load's file survived the rebases
    // version chain is linear: v1 (create) + 4 commits
    assert(t.currentVersion == 5)
  }

  test("file pruning by min/max stats keeps only overlapping files") {
    val cat = freshCatalog()
    val t = cat.createTable("main", "p", StructType(Seq(StructField("k", LongType))))
    val files = Seq(
      DataFile("f1", 10, 0, Map("k" -> ColumnStats(Some("1"), Some("100"), Some(0)))),
      DataFile("f2", 10, 0, Map("k" -> ColumnStats(Some("200"), Some("300"), Some(0)))),
      DataFile("f3", 10, 0, Map.empty)) // no stats: conservatively kept
    val m = t.commit(_.withSnapshot("append", None, files), unitMs = 1)
    val hit = StatsPrune.files(m, Seq(StatsPrune.between("k", "150", "250"))).map(_.path)
    assert(hit == Seq("f2", "f3"))
    val none = StatsPrune.files(m, Seq(StatsPrune.between("k", "101", "150"))).map(_.path)
    assert(none == Seq("f3"))
  }

  test("identifier length cap (255) is enforced at create time") {
    val cat = freshCatalog()
    val long = "x" * 256
    intercept[ValidationError] { cat.createTable("main", long, userSchema) }
    intercept[ValidationError] { cat.createTable(long, "t", userSchema) }
    intercept[ValidationError] {
      cat.createTable("main", "t", StructType(Seq(StructField(long, LongType))))
    }
    intercept[ValidationError] { cat.createTable("main", "", userSchema) }
    cat.createTable("main", "x" * 255, userSchema) // at the cap is fine
    assert(cat.tableExists("main", "x" * 255))
  }

  test("readAsOf, rollbackTo, and readAppendsSince navigate history") {
    val cat = freshCatalog()
    val t = cat.createTable("main", "tt", StructType(Seq(StructField("x", LongType))))
    t.commit(m => m.withSnapshot("append", Some("l1"),
      stage(t, (1L to 10L).toDF("x")), nowMs = 1000L), unitMs = 1)
    val s1 = t.metadata.currentSnapshotId.get
    t.commit(m => m.withSnapshot("append", Some("l2"),
      m.currentFiles ++ stage(t, (11L to 15L).toDF("x")), nowMs = 2000L), unitMs = 1)
    t.commit(m => m.withSnapshot("append", Some("l3"),
      m.currentFiles ++ stage(t, (16L to 18L).toDF("x")), nowMs = 3000L), unitMs = 1)

    // as-of picks the latest snapshot at or before the timestamp
    assert(t.readAsOf(1000L).count() == 10) // boundary inclusive
    assert(t.readAsOf(2500L).count() == 15)
    assert(t.readAsOf(9999L).count() == 18)
    intercept[ValidationError] { t.readAsOf(999L) }

    // appends since s1 = exactly the l2+l3 rows
    val added = t.readAppendsSince(s1).collect().map(_.getLong(0)).sorted
    assert(added.toSeq == (11L to 18L))

    // rollback re-references s1's manifests: metadata-only, history intact
    val before = t.metadata.snapshots.size
    t.rollbackTo(s1)
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    assert(t.metadata.snapshots.size == before + 1)
    assert(t.metadata.currentSnapshot.get.operation == "rollback")
    assert(t.metadata.currentSnapshot.get.manifestPaths ==
      t.metadata.snapshots.find(_.snapshotId == s1).get.manifestPaths)
    // the rolled-over snapshots remain time-travelable
    assert(t.readAsOf(3000L).count() == 18)
  }

  test("snapshots reuse unchanged manifests; appends write one new manifest each") {
    val cat = freshCatalog()
    val t = cat.createTable("main", "mf", StructType(Seq(StructField("x", LongType))))
    t.commit(m => m.withSnapshot("append", Some("l1"), stage(t, (1L to 5L).toDF("x"))), unitMs = 1)
    t.commit(m => m.withSnapshot("append", Some("l2"),
      m.currentFiles ++ stage(t, (6L to 9L).toDF("x"))), unitMs = 1)
    t.commit(m => m.withSnapshot("append", Some("l3"),
      m.currentFiles ++ stage(t, (10L to 12L).toDF("x"))), unitMs = 1)
    val snaps = t.metadata.snapshots
    // each append carries the parent's manifests by reference + one new
    assert(snaps.map(_.manifestPaths.size) == Seq(1, 2, 3))
    assert(snaps(1).manifestPaths.take(1) == snaps(0).manifestPaths)
    assert(snaps(2).manifestPaths.take(2) == snaps(1).manifestPaths)
    assert(t.read().count() == 12)
    // an overwrite shares nothing and references one fresh manifest
    t.commit(m => m.withSnapshot("overwrite", Some("l4"),
      stage(t, (100L to 101L).toDF("x"))), unitMs = 1)
    val ov = t.metadata.currentSnapshot.get
    assert(ov.manifestPaths.size == 1)
    assert(!snaps(2).manifestPaths.contains(ov.manifestPaths.head))
    assert(t.read().count() == 2)
    // metadata JSON references manifests (with summary refs), never
    // inline per-file entries with their stats maps
    val json = new String(java.nio.file.Files.readAllBytes(
      t.metadataDir.resolve(s"v${t.currentVersion}.metadata.json")), "UTF-8")
    assert(json.contains("manifest-") && !json.contains("\"stats\""))
  }

  test("partitioned-path stats aggregate typed, not lexicographic") {
    // regression: min/max over cast(String) made min of {9, 10} = "10"
    val cat = freshCatalog()
    val t = cat.createTable("main", "st", StructType(Seq(StructField("k", LongType))))
    val df = Seq(-5L, 9L, 10L, 100L).toDF("k")
    val spec = Seq(PartitionFieldSpec("k", "bucket", Some(1), "k_bucket"))
    val files = graft.write.Stager.stage(df, t.dataDir, "load_stats", spec = spec)
    assert(files.size == 1) // bucket[1] co-locates every row
    val s = files.head.stats("k")
    assert(s.min.get.toLong == -5L)
    assert(s.max.get.toLong == 100L)
  }

  test("temporal stats prune numerically across epoch digit boundaries") {
    // regression: epoch-day 9999 vs 10000 compared lexically ("9999" > "10000")
    val cat = freshCatalog()
    val t = cat.createTable("main", "dt", StructType(Seq(StructField("d", DateType))))
    val files = Seq(
      DataFile("f1", 10, 0, Map("d" -> ColumnStats(Some("9998"), Some("9999"), Some(0)))),
      DataFile("f2", 10, 0, Map("d" -> ColumnStats(Some("10000"), Some("10001"), Some(0)))),
      DataFile("f3", 10, 0, Map("d" -> ColumnStats(Some("-30"), Some("-1"), Some(0)))))
    val m = t.commit(_.withSnapshot("append", None, files), unitMs = 1)
    assert(StatsPrune.files(m, Seq(StatsPrune.between("d", "10000", "10000"))).map(_.path) == Seq("f2"))
    assert(StatsPrune.files(m, Seq(StatsPrune.between("d", "9999", "9999"))).map(_.path) == Seq("f1"))
    assert(StatsPrune.files(m, Seq(StatsPrune.between("d", "-20", "-10"))).map(_.path) == Seq("f3"))
  }
}
