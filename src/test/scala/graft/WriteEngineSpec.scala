package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.pipeline.GraftPipeline
import graft.write._
import graft.partition.PartitionHint
import scala.jdk.CollectionConverters._

/** Ports of the reference's write-path e2e tier: dispositions
  * (test_merge_disposition.py, test_delete_insert_merge.py), hard delete
  * (test_capabilities.py:34-223), evolution-on-write
  * (test_schema_evolution.py), atomicity + ledger
  * (test_class_based_atomic.py), state sync (test_state_sync_e2e.py). */
class WriteEngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-we-").toString)

  private def users(rows: (Long, String, Long)*): DataFrame =
    rows.toSeq.toDF("user_id", "username", "score")

  private val fastCfg = WriteConfig(retryUnitMs = 1)
  private def pkCfg = fastCfg.copy(primaryKey = Seq("user_id"))

  test("append twice: two snapshots, rows accumulate") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(users((1, "a", 10))), Append, fastCfg, "l1")
    w.writeTable("main", "u", Seq(users((2, "b", 20))), Append, fastCfg, "l2")
    val t = cat.loadTable("main", "u")
    assert(t.metadata.snapshots.map(_.operation) == Seq("append", "append"))
    assert(t.read().count() == 2)
    // metadata-only count/summary agree with the data, without a scan
    assert(t.rowCount == 2L)
    val d = t.describe().collect()(0)
    assert(d.getAs[Long]("n_rows") == 2L && d.getAs[Int]("n_snapshots") == 2)
    assert(d.getAs[Long]("total_bytes") > 0L)
    val h = t.history().collect()
    assert(h.map(_.getAs[String]("load_id")).toSeq == Seq("l1", "l2"))
    assert(h.map(_.getAs[Long]("n_rows")).toSeq == Seq(1L, 2L))
    assert(h(1).getAs[Long]("parent_id") == h(0).getAs[Long]("snapshot_id"))
  }

  test("multiple batches in one load produce ONE snapshot") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u",
      Seq(users((1, "a", 1)), users((2, "b", 2)), users((3, "c", 3))),
      Append, fastCfg, "load1")
    val t = cat.loadTable("main", "u")
    assert(t.metadata.snapshots.size == 1)
    assert(t.read().count() == 3)
  }

  test("replace truncates-and-inserts") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(users((1, "a", 1), (2, "b", 2))), Append, fastCfg, "l1")
    w.writeTable("main", "u", Seq(users((9, "z", 9))), Replace, fastCfg, "l2")
    val rows = cat.loadTable("main", "u").read().collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 9L)
  }

  test("merge upsert: PKs [1,2,3] + [2,3,4] => [1,2,3,4], 2-3 updated not duplicated") {
    // test_merge_disposition.py:50-79 scenario
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(users((1, "a", 1), (2, "b", 2), (3, "c", 3))),
      Merge("upsert"), pkCfg, "l1")
    w.writeTable("main", "u", Seq(users((2, "b2", 20), (3, "c2", 30), (4, "d", 40))),
      Merge("upsert"), pkCfg, "l2")
    val got = cat.loadTable("main", "u").read()
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "a", 1L), (2L, "b2", 20L), (3L, "c2", 30L), (4L, "d", 40L)))
  }

  test("delete-insert with composite keys keeps all versions distinct") {
    // test_delete_insert_merge.py:116-141 composite-key scenario
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = fastCfg.copy(primaryKey = Seq("user_id", "event_date"))
    def batch(rows: (Long, String, Long)*) =
      rows.toSeq.toDF("user_id", "event_date", "count")
    w.writeTable("main", "ev", Seq(batch((1, "2024-01-01", 5), (1, "2024-01-02", 7),
      (2, "2024-01-01", 3))), Merge("delete-insert"), cfg, "l1")
    w.writeTable("main", "ev", Seq(batch((1, "2024-01-02", 9), (2, "2024-01-02", 4))),
      Merge("delete-insert"), cfg, "l2")
    val got = cat.loadTable("main", "ev").read()
      .orderBy("user_id", "event_date").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01", 5L), (1L, "2024-01-02", 9L),
      (2L, "2024-01-01", 3L), (2L, "2024-01-02", 4L)))
    // delete-insert commits exactly one snapshot per load
    assert(cat.loadTable("main", "ev").metadata.snapshots.size == 2)
  }

  test("upsert rejects duplicate primary keys in the batch") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    intercept[ValidationError] {
      w.writeTable("main", "u", Seq(users((1, "a", 1), (1, "dup", 2))),
        Merge("upsert"), pkCfg, "l1")
    }
    // against an existing table, in both merge modes: the refused batch
    // commits nothing and leaves no staged file for vacuum to reclaim
    for ((name, cfg) <- Seq("cow" -> pkCfg,
        "mor" -> pkCfg.copy(mergeOnRead = true))) {
      w.writeTable("main", name, Seq(users((1, "a", 1), (2, "b", 2))),
        Merge("upsert"), cfg, "l1")
      val before = cat.loadTable("main", name).read().collect().toSet
      intercept[ValidationError] {
        w.writeTable("main", name, Seq(users((3, "c", 3), (3, "dup", 4))),
          Merge("upsert"), cfg, "l2")
      }
      val t = cat.loadTable("main", name)
      val orphans = Maintenance.vacuumOrphans(t, minAgeMs = 0L)
      assert(orphans.isEmpty, s"$name: refused batch left $orphans")
      assert(t.read().collect().toSet == before)
    }
  }

  test("merge without primary key falls back to append") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(users((1, "a", 1))), Merge("upsert"), fastCfg, "l1")
    w.writeTable("main", "u", Seq(users((1, "a", 1))), Merge("upsert"), fastCfg, "l2")
    assert(cat.loadTable("main", "u").read().count() == 2) // appended, not merged
  }

  private val hdSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("username", StringType),
    StructField("_dlt_deleted_at", TimestampType)))
  private def hdBatch(rows: (Long, String, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (id, n, del) =>
      Row(id, n, Option(del).map(Timestamp.valueOf).orNull)
    }.asJava, hdSchema)

  test("hard delete (delete-insert): mixed update/delete/insert in one snapshot") {
    // test_capabilities.py:34-93
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(hdBatch(
      (1, "a", null), (2, "b", null), (3, "c", null))),
      Merge("delete-insert"), pkCfg, "l1")
    w.writeTable("main", "u", Seq(hdBatch(
      (1, "a2", null),                       // update
      (2, "b", "2024-06-01 00:00:00"),       // hard delete
      (4, "d", null))),                      // insert
      Merge("delete-insert"), pkCfg, "l2")
    val t = cat.loadTable("main", "u")
    val got = t.read().orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a2"), (3L, "c"), (4L, "d")))
    assert(t.metadata.snapshots.size == 2) // atomic: 1 snapshot for load 2
  }

  test("hard delete (upsert): delete happens in its own snapshot before upsert") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(hdBatch((1, "a", null), (2, "b", null))),
      Merge("upsert"), pkCfg, "l1")
    w.writeTable("main", "u", Seq(hdBatch(
      (1, "a2", null), (2, "b", "2024-06-01 00:00:00"))),
      Merge("upsert"), pkCfg, "l2")
    val t = cat.loadTable("main", "u")
    val got = t.read().orderBy("user_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a2")))
    assert(t.metadata.snapshots.map(_.operation) == Seq("upsert", "delete", "upsert"))
  }

  test("upsert replay after a crash between the -hd and main commits") {
    // exactly-once callers (StreamingLoader) re-run the whole load under
    // the same loadId when a crash lands between the hard-delete
    // sub-commit and the main commit; the replay must SKIP the already-
    // present '<loadId>-hd' snapshot instead of committing it twice
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(hdBatch((1, "a", null), (2, "b", null))),
      Merge("upsert"), pkCfg, "l1")
    // simulate the crashed first attempt: its -hd sub-commit landed...
    w.writeTable("main", "u", Seq(hdBatch(
      (2, "b", "2024-06-01 00:00:00"))), Merge("upsert"), pkCfg, "l2-hd")
    // ...then the replay runs the full mixed batch under loadId l2
    w.writeTable("main", "u", Seq(hdBatch(
      (1, "a2", null), (2, "b", "2024-06-01 00:00:00"))),
      Merge("upsert"), pkCfg, "l2")
    val t = cat.loadTable("main", "u")
    val got = t.read().orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a2")))
    // the distinct-loadId ledger invariant holds: ONE l2-hd, ONE l2
    val loadIds = t.metadata.snapshots.flatMap(_.loadId)
    assert(loadIds == Seq("l1", "l2-hd", "l2"), loadIds.mkString(", "))
  }

  test("all-rows-hard-delete fast path: single delete snapshot, no insert") {
    // test_capabilities.py:161-223
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(hdBatch((1, "a", null), (2, "b", null))),
      Merge("delete-insert"), pkCfg, "l1")
    w.writeTable("main", "u", Seq(hdBatch(
      (1, "a", "2024-06-01 00:00:00"), (2, "b", "2024-06-01 00:00:00"))),
      Merge("delete-insert"), pkCfg, "l2")
    val t = cat.loadTable("main", "u")
    assert(t.read().count() == 0)
    assert(t.metadata.snapshots.last.operation == "delete")
  }

  test("evolution on write: new column added, old rows null; narrow batch sparse") {
    // test_schema_evolution.py:19+ / test_sparse_schema.py:80-106
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "ev", Seq(Seq((1L, "t1")).toDF("id", "et")), Append, fastCfg, "l1")
    w.writeTable("main", "ev",
      Seq(Seq((2L, "t2", 9.5)).toDF("id", "et", "value")), Append, fastCfg, "l2")
    val t = cat.loadTable("main", "ev")
    assert(t.metadata.schema.fieldNames.toSeq == Seq("id", "et", "value"))
    val got = t.read().orderBy("id").collect()
    assert(got(0).isNullAt(2) && got(1).getDouble(2) == 9.5)

    // narrow batch after widening: score column absent -> null-filled
    w.writeTable("main", "ev", Seq(Seq((3L, "t3")).toDF("id", "et")), Append, fastCfg, "l3")
    val after = t.read().orderBy("id").collect()
    assert(after.length == 3 && after(2).isNullAt(2))
    assert(t.metadata.schema.fieldNames.length == 3) // schema unchanged
  }

  test("evolution on write recurses into structs: nested add + promote + sparse") {
    import org.apache.spark.sql.functions.{col, struct, lit}
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    // load 1: meta = struct<a:int, s:string>
    w.writeTable("main", "ns",
      Seq(Seq((1L, 7)).toDF("id", "a")
        .select(col("id"), struct(col("a"), lit("x").as("s")).as("meta"))),
      Append, fastCfg, "l1")
    // load 2: meta = struct<a:long, s:string, p:double> — nested promote + add
    w.writeTable("main", "ns",
      Seq(Seq((2L, 9L, 1.5)).toDF("id", "a", "p")
        .select(col("id"),
          struct(col("a"), lit("y").as("s"), col("p")).as("meta"))),
      Append, fastCfg, "l2")
    val t = cat.loadTable("main", "ns")
    val meta = t.metadata.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("a", "s", "p"))
    assert(meta("a").dataType == org.apache.spark.sql.types.LongType)
    val got = t.read().orderBy("id")
      .select(col("id"), col("meta.a"), col("meta.s"), col("meta.p")).collect()
    assert(got(0).getLong(1) == 7L && got(0).getString(2) == "x" && got(0).isNullAt(3))
    assert(got(1).getLong(1) == 9L && got(1).getString(2) == "y" &&
      got(1).getDouble(3) == 1.5)

    // load 3: nested-sparse batch (meta without p) — no evolution, null-fill
    w.writeTable("main", "ns",
      Seq(Seq((3L, 11L)).toDF("id", "a")
        .select(col("id"), struct(col("a"), lit("z").as("s")).as("meta"))),
      Append, fastCfg, "l3")
    val t2 = cat.loadTable("main", "ns")
    assert(t2.metadata.schema("meta").dataType == meta, "sparse batch must not evolve")
    val r3 = t2.read().filter(col("id") === 3)
      .select(col("meta.a"), col("meta.p")).collect()(0)
    assert(r3.getLong(0) == 11L && r3.isNullAt(1))
  }

  test("merge rewrites only key-affected files; untouched files carry over") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    // two loads with disjoint key ranges => disjoint files with disjoint stats
    w.writeTable("main", "u", Seq(users((1, "a", 1), (2, "b", 2)).coalesce(1)),
      Merge("delete-insert"), pkCfg, "l1")
    w.writeTable("main", "u", Seq(users((100, "x", 1), (101, "y", 2)).coalesce(1)),
      Merge("delete-insert"), pkCfg, "l2")
    val before = cat.loadTable("main", "u").metadata.currentFiles.map(_.path).toSet
    // merge touching only the low range
    w.writeTable("main", "u", Seq(users((2, "b2", 22)).coalesce(1)),
      Merge("delete-insert"), pkCfg, "l3")
    val t = cat.loadTable("main", "u")
    val after = t.metadata.currentFiles.map(_.path).toSet
    // the high-range file survived byte-identical (metadata carry)
    val highFile = before.filter(p => after.contains(p))
    assert(highFile.nonEmpty, "expected untouched file to carry into new snapshot")
    val got = t.read().orderBy("user_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b2"), (100L, "x"), (101L, "y")))
  }

  test("partitioned write records spec and yields prunable per-file stats") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = fastCfg.copy(partitions = Seq(PartitionHint.bucket(4, "user_id")))
    w.writeTable("main", "u", Seq(users((1, "a", 1), (2, "b", 2), (3, "c", 3),
      (4, "d", 4), (5, "e", 5), (6, "f", 6))), Append, cfg, "l1")
    val t = cat.loadTable("main", "u")
    val spec = t.metadata.partitionSpec
    assert(spec.map(s => (s.transform, s.param, s.name)) ==
      Seq(("bucket", Some(4), "user_id_bucket_4")))
    // every staged file has stats for the derived bucket value
    assert(t.metadata.currentFiles.forall(_.stats.contains("user_id_bucket_4")))
  }

  test("pipeline: completeLoad commits all tables + ledger row, idempotent") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main", "schema1", "pipe1")
    p.stage("users", users((1, "a", 1)), Append, fastCfg)
    p.stage("users", users((2, "b", 2)), Append, fastCfg)
    p.stage("orders", Seq((10L, 1L)).toDF("order_id", "user_id"), Append, fastCfg)
    p.completeLoad("load-1")
    assert(cat.loadTable("main", "users").read().count() == 2)
    assert(cat.loadTable("main", "users").metadata.snapshots.size == 1)
    assert(cat.loadTable("main", "orders").read().count() == 1)
    val ledger = p.loads().collect()
    assert(ledger.length == 1 && ledger(0).getAs[String]("load_id") == "load-1"
      && ledger(0).getAs[Long]("status") == 0L)
    // replay of the same load id is a no-op
    p.stage("users", users((99, "zz", 9)), Append, fastCfg)
    p.completeLoad("load-1")
    assert(cat.loadTable("main", "users").read().count() == 2)
    assert(p.loads().count() == 1)
  }

  test("schema registry: hash-deduped versions; state restore by created_at") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main", "s1", "pipe1")
    assert(p.storeSchema("""{"v":1}"""))
    assert(!p.storeSchema("""{"v":1}""")) // same hash -> dedupe
    assert(p.storeSchema("""{"v":2}"""))
    val newest = p.getStoredSchema.get
    assert(newest.getAs[Long]("version") == 2L)
    assert(newest.getAs[String]("schema") == """{"v":2}""")

    p.storeState("""{"step":1}""", "load-1")
    p.storeState("""{"step":2}""", "load-2")
    assert(p.getStoredState.get.getAs[String]("state") == """{"step":2}""")
  }

  test("C10: naive-timestamp metadata batch normalizes to the live table type") {
    import graft.pipeline.InternalTimestamps
    val naive = StructType(Seq(
      StructField("load_id", StringType), StructField("inserted_at", TimestampNTZType)))
    val df = spark.createDataFrame(new java.util.ArrayList[Row](), naive)
    val aware = StructType(Seq(
      StructField("load_id", StringType), StructField("inserted_at", TimestampType)))
    val out = InternalTimestamps.normalize("_dlt_loads", df, Some(aware))
    assert(out.schema("inserted_at").dataType == TimestampType)
    // non-internal tables pass through untouched
    val same = InternalTimestamps.normalize("users", df, Some(aware))
    assert(same.schema("inserted_at").dataType == TimestampNTZType)
  }

  test("drop_tables purges tables and wipes the schema's _dlt_version rows") {
    val cat = freshCatalog()
    val p1 = new GraftPipeline(cat, "main", "s1", "pipe1")
    val p2 = new GraftPipeline(cat, "main", "s2", "pipe2")
    p1.storeSchema("""{"s":1}""")
    p2.storeSchema("""{"s":2}""")
    p1.stage("users", users((1, "a", 1)), Append, fastCfg)
    p1.completeLoad("load-1")
    p1.dropTables(Seq("users"))
    assert(!cat.tableExists("main", "users"))
    val versions = p1.loads().sparkSession // reuse session
    val rows = cat.loadTable("main", GraftPipeline.VersionTable).read().collect()
    assert(rows.map(_.getAs[String]("schema_name")).toSet == Set("s2")) // s1 wiped
  }

  test("schema restore falls back to deriving from live tables") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main", "s1", "pipe1")
    val w = new GraftWriter(cat)
    w.writeTable("main", "users", Seq(users((1, "a", 1))), Append, fastCfg, "l1")
    val derived = p.getStoredSchemaOrDerive
    assert(derived.isDefined)
    val (hash, json) = derived.get
    assert(hash == "derived_from_iceberg")
    assert(json.contains("\"users\"") && json.contains("user_id"))
    // once a schema is stored, the stored one wins
    p.storeSchema("""{"v":9}""")
    assert(p.getStoredSchemaOrDerive.get._2 == """{"v":9}""")
  }

  test("merge keys fall back to x-merge-keys when no primary key") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = fastCfg.copy(mergeKeys = Seq("user_id"))
    w.writeTable("main", "u", Seq(users((1, "a", 1), (2, "b", 2))),
      Merge("upsert"), cfg, "l1")
    w.writeTable("main", "u", Seq(users((2, "b2", 20))), Merge("upsert"), cfg, "l2")
    val got = cat.loadTable("main", "u").read().orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b2"))) // merged, not appended
  }

  test("custom table location is honored (test_capabilities custom-location port)") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val custom = Files.createTempDirectory("graft-custom-loc-")
    val cfg = fastCfg.copy(location = Some(custom.toString))
    w.writeTable("main", "u", Seq(users((1, "a", 1))), Append, cfg, "l1")
    assert(Files.exists(custom.resolve("metadata").resolve("v1.metadata.json")))
    assert(new GraftTable(spark, custom).read().count() == 1)

    // regression: the catalog must resolve the custom location afterwards —
    // the second write used to re-enter createTable and throw
    // TableAlreadyExistsError (destination_client.py:736-766 parity)
    w.writeTable("main", "u", Seq(users((2, "b", 2))), Append, cfg, "l2")
    assert(cat.tableExists("main", "u"))
    assert(cat.listTables("main") == Seq("u"))
    val t = cat.loadTable("main", "u")
    assert(t.dir.toAbsolutePath.normalize == custom.toAbsolutePath.normalize)
    assert(t.read().count() == 2) // both loads visible through the catalog
    assert(t.metadata.snapshots.size == 2)

    // a second write with NO location hint must keep routing to the
    // registered location, not fork a table at the default path
    w.writeTable("main", "u", Seq(users((3, "c", 3))), Append, fastCfg, "l3")
    assert(t.read().count() == 3)

    cat.dropTable("main", "u")
    assert(!cat.tableExists("main", "u"))
    assert(!Files.exists(custom.resolve("metadata"))) // purge reached the real dir
  }

  test("composite-key merge prunes on ALL key columns, not just the first") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = fastCfg.copy(primaryKey = Seq("region", "id"))
    // low-cardinality leading key: build a deterministic 3-file layout
    // (one append per file) so region "b" spans two files with disjoint
    // id ranges — AQE would coalesce a single tiny staged write to 1 file
    def slab(r: String, ids: Range) =
      ids.map(i => (r, i.toLong, r + i)).toDF("region", "id", "v").coalesce(1)
    w.writeTable("main", "rk", Seq(slab("a", 1 to 400)), Append, cfg, "l1a")
    w.writeTable("main", "rk", Seq(slab("b", 1 to 200)), Append, cfg, "l1b")
    w.writeTable("main", "rk", Seq(slab("b", 201 to 400)), Append, cfg, "l1c")
    val t = cat.loadTable("main", "rk")
    val before = t.metadata.currentFiles
    // first-column pruning alone would rewrite EVERY file of region "b"
    val regionOnlyHit = StatsPrune.files(t.metadata, Seq(StatsPrune.between("region", "b", "b"))).size
    assert(regionOnlyHit > 1) // precondition: region b spans several files

    val batch = Seq(("b", 10L, "B10"), ("b", 11L, "B11"), ("b", 12L, "B12"))
      .toDF("region", "id", "v")
    w.writeTable("main", "rk", Seq(batch), Merge("upsert"), cfg, "l2")
    val after = cat.loadTable("main", "rk").metadata.currentFiles
    val rewritten = before.map(_.path).toSet -- after.map(_.path).toSet
    assert(rewritten.size < regionOnlyHit) // intersection pruned tighter
    assert(rewritten.nonEmpty) // and it did touch the real overlap
    // correctness of the merge itself
    val got = cat.loadTable("main", "rk").read()
      .filter($"region" === "b" && $"id".between(9, 13))
      .orderBy("id").collect().map(r => (r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((9L, "b9"), (10L, "B10"), (11L, "B11"), (12L, "B12"), (13L, "b13")))
    assert(cat.loadTable("main", "rk").read().count() == 800)
  }

  test("initializeStorage creates the namespace and drops truncate-listed tables") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main")
    assert(!p.isStorageInitialized)
    p.initializeStorage()
    assert(p.isStorageInitialized)

    p.stage("keep", users((1, "a", 1))); p.stage("wipe", users((2, "b", 2)))
    p.completeLoad("l1")
    // re-init with a truncate list: listed tables drop, others survive;
    // missing names are ignored (destination_client.py:873-880)
    p.initializeStorage(truncateTables = Seq("wipe", "never_existed"))
    assert(cat.tableExists("main", "keep"))
    assert(!cat.tableExists("main", "wipe"))

    // next load recreates the truncated table from scratch
    p.stage("wipe", users((9, "z", 9)))
    p.completeLoad("l2")
    assert(cat.loadTable("main", "wipe").read().count() == 1)
  }

  test("registerTable attaches an external table; registerTablesFrom discovers in bulk") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val external = Files.createTempDirectory("graft-ext-")
    // build two tables in a foreign warehouse, then attach to a fresh catalog
    val foreign = new GraftCatalog(spark, external.toString)
    new GraftWriter(foreign).writeTable("src", "a", Seq(users((1, "a", 1))), Append, fastCfg, "l1")
    new GraftWriter(foreign).writeTable("src", "b", Seq(users((2, "b", 2))), Append, fastCfg, "l1")

    val t = cat.registerTable("main", "a", external.resolve("src").resolve("a").toString)
    assert(t.read().count() == 1)
    assert(cat.tableExists("main", "a") && cat.listTables("main") == Seq("a"))
    // registered tables accept further writes through the catalog
    w.writeTable("main", "a", Seq(users((9, "z", 9))), Append, fastCfg, "l2")
    assert(cat.loadTable("main", "a").read().count() == 2)
    intercept[TableAlreadyExistsError] {
      cat.registerTable("main", "a", external.resolve("src").resolve("b").toString)
    }
    intercept[NoSuchTableError] {
      cat.registerTable("main", "nope", external.resolve("missing").toString)
    }

    // bulk discovery registers only unknown tables
    val found = cat.registerTablesFrom("main", external.resolve("src").toString)
    assert(found == Seq("b"))
    assert(cat.listTables("main") == Seq("a", "b"))
    assert(cat.loadTable("main", "b").read().count() == 1)
  }

  test("maxRecordsPerFile bounds staged file sizes") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val rows = (1L to 100L).map(i => (i, s"u$i", i)).toDF("user_id", "username", "score")
      .coalesce(1)
    w.writeTable("main", "bounded", Seq(rows), Append,
      fastCfg.copy(maxRecordsPerFile = 30L), "l1")
    val files = cat.loadTable("main", "bounded").metadata.currentFiles
    assert(files.size >= 4, s"expected >= 4 bounded files, got ${files.size}")
    assert(files.forall(_.rowCount <= 30L))
    assert(files.map(_.rowCount).sum == 100L)
  }

  test("write sort-order: files cover disjoint key ranges, point scans prune to one file") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    // seed, then declare the order (property round-trips the commit path)
    w.writeTable("main", "sorted", Seq(users((0L, "seed", 0L))), Append, fastCfg, "l0")
    cat.loadTable("main", "sorted").commit(m => m.copy(properties =
      m.properties + (GraftWriter.SortOrderProperty -> "score")), unitMs = 1)
    // a deliberately jumbled bulk append: without the declared order
    // every staged file would span the whole score domain
    val jumbled = (1L to 4000L).map(i => ((i * 2654435761L) % 4000L + 1L, s"u$i", (i * 48271L) % 100000L))
      .toDF("user_id", "username", "score").repartition(8)
    // AQE legitimately coalesces a 4000-row range shuffle to one task —
    // the file-size bound then splits the SORTED task stream, so range
    // disjointness must survive both mechanisms
    w.writeTable("main", "sorted", Seq(jumbled), Append,
      fastCfg.copy(maxRecordsPerFile = 1000L), "l1")
    val t = cat.loadTable("main", "sorted")
    val staged = t.metadata.currentFiles.filter(_.stats.contains("score"))
      .filter(_.rowCount > 1) // ignore the 1-row seed
    assert(staged.size >= 2, s"need multiple staged files, got ${staged.size}")
    // range clustering makes per-file [min,max] score ranges disjoint
    val ranges = staged.map(f => (f.stats("score").min.get.toLong,
      f.stats("score").max.get.toLong)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"sorted-write files must not overlap: $ranges")
      case _ => ()
    }
    // and min/max pruning now hits like partition pruning: a point/range
    // predicate on the sort column touches one file, not all of them
    val probe = ranges.head._1.toString
    val hit = StatsPrune.files(t.metadata, Seq(StatsPrune.between("score", probe, probe)))
      .filter(_.rowCount > 1)
    assert(hit.size == 1,
      s"a sort-key point probe must prune to one staged file, got ${hit.size}")
    // content-neutral: the sorted layout changes files, never rows
    assert(t.read().count() == 4001L)
    // a typo'd sort column fails the NEXT write loudly
    cat.loadTable("main", "sorted").commit(m => m.copy(properties =
      m.properties + (GraftWriter.SortOrderProperty -> "nope")), unitMs = 1)
    val e = intercept[ValidationError] {
      w.writeTable("main", "sorted", Seq(users((9999L, "x", 1L))), Append, fastCfg, "l2")
    }
    assert(e.getMessage.contains("nope"))
  }

  test("sort-order composes with partitioning: rows sort WITHIN each value-exact file") {
    // partitioned tables keep their value-exact file-per-tuple layout;
    // the declared order applies INSIDE each file, which is what makes
    // parquet row-group/page stats on the sort column tight (the scale
    // payoff when the partition already bounds the file)
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "ps", Seq(users((0L, "seed", 0L))), Append,
      fastCfg.copy(partitions =
        Seq(graft.partition.PartitionHint.identity("username"))), "l0")
    cat.loadTable("main", "ps").commit(m => m.copy(properties =
      m.properties + (GraftWriter.SortOrderProperty -> "score")), unitMs = 1)
    val jumbled = (1L to 900L)
      .map(i => (i, s"grp${i % 3}", (i * 48271L) % 7919L))
      .toDF("user_id", "username", "score").repartition(8)
    w.writeTable("main", "ps", Seq(jumbled), Append, fastCfg.copy(partitions =
      Seq(graft.partition.PartitionHint.identity("username"))), "l1")
    val t = cat.loadTable("main", "ps")
    val files = t.metadata.currentFiles.filter(_.rowCount > 1)
    assert(files.size >= 3, s"one file per username tuple, got ${files.size}")
    files.foreach { f =>
      val scores = spark.read.parquet(f.path).select("score")
        .collect().map(_.getLong(0)).toSeq
      assert(scores == scores.sorted,
        s"rows inside ${f.path} must arrive in sort order")
    }
    // still value-exact: each file holds exactly one username
    files.foreach { f =>
      val names = spark.read.parquet(f.path).select("username")
        .distinct().collect()
      assert(names.length == 1, s"${f.path} must hold one partition tuple")
    }
    assert(t.read().count() == 901L)
  }
}
