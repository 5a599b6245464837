package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** The V2 catalog plugin: `spark.sql("... FROM <cat>.<ns>.<table>")`
  * resolves graft tables natively — current snapshot, VERSION AS OF,
  * TIMESTAMP AS OF — with the committed schema imposed (sparse
  * null-fill) and catalyst pushdown intact. */
class SparkCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(name: String): GraftCatalog = {
    val wh = Files.createTempDirectory(s"graft-v2-$name-").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    new GraftCatalog(spark, wh)
  }

  test("SQL over the catalog: current reads, pushdown, DDL") {
    val cat = freshCatalog("gsql")
    val w = new GraftWriter(cat)
    w.writeTable("main", "users",
      Seq((1 to 50).map(i => (i.toLong, s"u$i", i % 5)).toDF("id", "name", "grp")),
      Append, WriteConfig(retryUnitMs = 1), "l1")

    assert(spark.sql("SELECT count(*) FROM gsql.main.users").collect()(0).getLong(0) == 50)
    val grouped = spark.sql(
      "SELECT grp, count(*) AS n FROM gsql.main.users GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(grouped.toSeq == (0 until 5).map(g => (g, 10L)))

    // filter pushdown reaches the parquet scan through the V2 table
    val plan = spark.sql("SELECT name FROM gsql.main.users WHERE id = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"))

    // DDL through the catalog
    spark.sql("CREATE TABLE gsql.main.fresh (id BIGINT, v STRING)")
    assert(cat.tableExists("main", "fresh"))
    assert(spark.sql("SHOW TABLES IN gsql.main").collect()
      .map(_.getString(1)).toSet == Set("users", "fresh"))
    spark.sql("DROP TABLE gsql.main.fresh")
    assert(!cat.tableExists("main", "fresh"))
    spark.sql("CREATE TABLE gsql.main.fresh2 (id BIGINT)")
    spark.sql("DROP TABLE gsql.main.fresh2 PURGE")
    assert(!cat.tableExists("main", "fresh2"))

    // partitioned create maps V2 transforms onto the engine's spec
    spark.sql("CREATE TABLE gsql.main.parted (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (bucket(8, id), days(ts))")
    val spec = cat.loadTable("main", "parted").metadata.partitionSpec
    assert(spec.map(s => (s.transform, s.param)) ==
      Seq(("bucket", Some(8)), ("day", None)))
    // ...and maps BACK: DESCRIBE surfaces the real layout
    val desc = spark.sql("DESCRIBE TABLE gsql.main.parted")
      .collect().map(_.getString(0)).toSeq
    assert(desc.contains("# Partitioning"), s"no partitioning in $desc")
    val descAll = spark.sql("DESCRIBE TABLE gsql.main.parted")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(descAll.values.exists(v => v != null && v.contains("bucket")),
      s"bucket transform missing from DESCRIBE: $descAll")
    // SHOW CREATE TABLE renders the real layout from the V2 surface
    val ddl = spark.sql("SHOW CREATE TABLE gsql.main.parted")
      .collect()(0).getString(0)
    assert(ddl.contains("bucket(8, id)") && ddl.contains("days(ts)"), ddl)
  }

  test("INSERT INTO / INSERT OVERWRITE route through the engine write path") {
    val cat = freshCatalog("gins")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")

    spark.sql("INSERT INTO gins.main.t VALUES (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM gins.main.t").collect()(0).getLong(0) == 3)
    // the INSERT committed through the engine: one more snapshot, stats attached
    val t = cat.loadTable("main", "t")
    assert(t.metadata.snapshots.size == 2)
    assert(t.metadata.currentFiles.forall(_.stats.contains("id")))

    // INSERT with a narrower type gets the engine's safe cast (int -> long)
    spark.sql("INSERT INTO gins.main.t SELECT CAST(4 AS INT), 'd'")
    assert(spark.sql("SELECT count(*) FROM gins.main.t").collect()(0).getLong(0) == 4)

    spark.sql("INSERT OVERWRITE gins.main.t VALUES (9, 'z')")
    val rows = spark.sql("SELECT id, v FROM gins.main.t").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 9L)
    // overwrite is a Replace load: history intact, time travel works
    assert(cat.loadTable("main", "t").metadata.snapshots.size == 4)
  }

  test("VERSION AS OF and TIMESTAMP AS OF time travel through SQL") {
    val cat = freshCatalog("gtt")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val s1 = cat.loadTable("main", "t").metadata.currentSnapshotId.get
    val tsBetween = System.currentTimeMillis()
    Thread.sleep(5)
    w.writeTable("main", "t", Seq(Seq((2L, "b")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l2")

    assert(spark.sql("SELECT count(*) FROM gtt.main.t").collect()(0).getLong(0) == 2)
    assert(spark.sql(s"SELECT count(*) FROM gtt.main.t VERSION AS OF $s1")
      .collect()(0).getLong(0) == 1)
    val ts = new java.sql.Timestamp(tsBetween)
    assert(spark.sql(s"SELECT count(*) FROM gtt.main.t TIMESTAMP AS OF '$ts'")
      .collect()(0).getLong(0) == 1)
  }

  test("time travel reads under the SNAPSHOT-TIME schema after evolution") {
    val cat = freshCatalog("gss")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val s1 = cat.loadTable("main", "t").metadata.currentSnapshotId.get
    w.writeTable("main", "t", Seq(Seq((2L, "b", 9L)).toDF("id", "v", "extra")),
      Append, WriteConfig(retryUnitMs = 1), "l2")

    // current read: evolved schema with null-fill
    assert(spark.sql("SELECT id, v, extra FROM gss.main.t").columns.length == 3)
    // time-traveled read: the column added AFTER s1 must not exist at s1
    val historic = spark.sql(s"SELECT * FROM gss.main.t VERSION AS OF $s1")
    assert(historic.columns.toSeq == Seq("id", "v"))
    assert(historic.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a")))
    // and the engine metadata records the per-snapshot schema versions
    val m = cat.loadTable("main", "t").metadata
    val versions = m.snapshots.sortBy(_.snapshotId).flatMap(_.schemaVersionAt)
    assert(versions == Seq(1, 2) && m.schemaAt(1).fieldNames.toSeq == Seq("id", "v"))
  }

  test("SQL reads apply merge-on-read deletes; VERSION AS OF resolves refs") {
    val cat = freshCatalog("gmor")
    val w = new GraftWriter(cat)
    val mcfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1,
      mergeOnRead = true)
    w.writeTable("main", "m",
      Seq(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")),
      Merge("upsert"), mcfg, "l1")
    val t = w.writeTable("main", "m", Seq(Seq((2L, "b2")).toDF("id", "v")),
      Merge("upsert"), mcfg, "l2")

    // a raw parquet scan would show 4 rows (stale id=2 included) — the
    // MoR-aware scan must not
    val got = spark.sql("SELECT id, v FROM gmor.main.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // filters still correct through the V1 fallback
    assert(spark.sql("SELECT v FROM gmor.main.m WHERE id = 2")
      .collect().map(_.getString(0)).toSeq == Seq("b2"))

    // branch read through SQL: VERSION AS OF '<ref>'
    t.createBranch("audit")
    w.writeTable("main", "m", Seq(Seq((9L, "z")).toDF("id", "v")), Append,
      WriteConfig(retryUnitMs = 1, toBranch = Some("audit")), "l3")
    assert(spark.sql("SELECT count(*) FROM gmor.main.m VERSION AS OF 'audit'")
      .collect()(0).getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM gmor.main.m").collect()(0).getLong(0) == 3)

    // after physical apply, the fast DSv2 parquet path returns: the
    // filter is either pushed to the scan or CLAIMED outright by exact
    // file selection (range-constancy) — both are the fast path; what
    // must be gone is the V1 MoR fallback
    graft.write.Maintenance.applyDeletes(t, retryUnitMs = 1)
    val applied = spark.sql("SELECT v FROM gmor.main.m WHERE id = 2")
    val plan = applied.queryExecution.executedPlan.toString
    assert(plan.contains("ParquetScan"),
      s"the DSv2 parquet path must return once deletes are applied:\n$plan")
    assert((plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"))
      || plan.contains("InMemoryFileIndex(1 path"),
      s"the filter must be pushed or claimed by file selection:\n$plan")
    assert(applied.collect().map(_.getString(0)).toSeq == Seq("b2"))
  }

  test("ALTER TABLE routes through the engine's evolution rules") {
    val cat = freshCatalog("gddl")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t",
      Seq(Seq((1, "a")).toDF("id", "v")), Append, WriteConfig(retryUnitMs = 1), "l1")

    // add nullable column: old rows read back null
    spark.sql("ALTER TABLE gddl.main.t ADD COLUMN score BIGINT")
    val r = spark.sql("SELECT id, score FROM gddl.main.t").collect()(0)
    assert(r.getInt(0) == 1 && r.isNullAt(1))

    // safe promotion int -> bigint
    spark.sql("ALTER TABLE gddl.main.t ALTER COLUMN id TYPE BIGINT")
    assert(cat.loadTable("main", "t").metadata.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT id FROM gddl.main.t").collect()(0).getLong(0) == 1L)

    // unsafe narrowing is rejected — by Spark's own analyzer when it
    // catches it first, and by the engine's C7 guard for programmatic
    // TableChange callers
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gddl.main.t ALTER COLUMN id TYPE INT")
    }
    assert(e.getMessage.contains("Unsafe type change") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    val e2 = intercept[IllegalArgumentException] {
      val cat2 = spark.sessionState.catalogManager.catalog("gddl")
        .asInstanceOf[GraftSparkCatalog]
      cat2.alterTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("main"), "t"),
        org.apache.spark.sql.connector.catalog.TableChange.updateColumnType(
          Array("id"), org.apache.spark.sql.types.IntegerType))
    }
    assert(e2.getMessage.contains("Unsafe type change"))

    // drop nullable column; old data files keep it on disk, reads hide it
    spark.sql("ALTER TABLE gddl.main.t DROP COLUMN score")
    assert(!spark.sql("SELECT * FROM gddl.main.t").schema.fieldNames.contains("score"))
  }

  test("SQL metadata tables: .history/.files/.refs/.deletes") {
    val cat = freshCatalog("gmeta")
    val w = new GraftWriter(cat)
    val mcfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1,
      mergeOnRead = true)
    w.writeTable("main", "t", Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Merge("upsert"), mcfg, "l1")
    val t = w.writeTable("main", "t", Seq(Seq((2L, "b2")).toDF("id", "v")),
      Merge("upsert"), mcfg, "l2")
    t.createBranch("audit")

    assert(spark.sql("SELECT count(*) FROM gmeta.main.t.history")
      .collect()(0).getLong(0) == 2)
    assert(spark.sql("SELECT load_id FROM gmeta.main.t.snapshots ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq == Seq("l1", "l2"))
    assert(spark.sql("SELECT count(*) FROM gmeta.main.t.files")
      .collect()(0).getLong(0) == t.metadata.currentFiles.size)
    assert(spark.sql("SELECT name FROM gmeta.main.t.refs").collect()
      .map(_.getString(0)).toSeq == Seq("audit"))
    val dels = spark.sql("SELECT kind, row_count FROM gmeta.main.t.deletes")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dels.toSeq == Seq(("equality", 1L)))
    // the data table itself still resolves normally
    assert(spark.sql("SELECT count(*) FROM gmeta.main.t")
      .collect()(0).getLong(0) == 2)
  }

  test("missing snapshot id is a version error naming the snapshot, not table-not-found") {
    val cat = freshCatalog("gver")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gver.main.t VERSION AS OF 999").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("999") && msgs.contains("available snapshot ids"))
    assert(!msgs.toLowerCase.contains("table or view not found"))
  }

  test("listNamespaces splits dotted namespaces into V2 parts") {
    val cat = freshCatalog("gns")
    cat.createNamespace("a.b")
    cat.createNamespace("plain")
    val nss = spark.sql("SHOW NAMESPACES IN gns").collect().map(_.getString(0)).toSet
    assert(nss.contains("a.b") && nss.contains("plain"))
    val v2 = new GraftSparkCatalog()
    val opts = new java.util.HashMap[String, String]()
    opts.put("warehouse", spark.conf.get("spark.sql.catalog.gns.warehouse"))
    v2.initialize("gns", new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    assert(v2.listNamespaces().map(_.toSeq).toSet ==
      Set(Seq("a", "b"), Seq("plain")))
    // implicit parent of a dotted namespace exists on the V2 surface and
    // lists its children, consistent with the top-level split listing
    assert(v2.namespaceExists(Array("a")))
    assert(v2.listNamespaces(Array("a")).map(_.toSeq).toSet == Set(Seq("a", "b")))
    assert(v2.listNamespaces(Array("a", "b")).isEmpty)
    intercept[Exception] { v2.listNamespaces(Array("nope")) }
  }

  test("schema evolution: old files null-fill through the SQL surface") {
    val cat = freshCatalog("gevo")
    val w = new GraftWriter(cat)
    w.writeTable("main", "e", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    w.writeTable("main", "e", Seq(Seq((2L, "b", 9L)).toDF("id", "v", "extra")),
      Append, WriteConfig(retryUnitMs = 1), "l2")
    val rows = spark.sql("SELECT id, extra FROM gevo.main.e ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
      .toSeq == Seq((1L, null), (2L, 9L)))
  }

  test("nested ALTER TABLE: add/retype/drop fields inside a struct") {
    val cat = freshCatalog("gnst")
    val w = new GraftWriter(cat)
    import org.apache.spark.sql.functions.{col, lit, struct}
    w.writeTable("main", "t",
      Seq(Seq((1L, 7)).toDF("id", "a")
        .select(col("id"), struct(col("a"), lit("x").as("s")).as("meta"))),
      Append, WriteConfig(retryUnitMs = 1), "l1")

    spark.sql("ALTER TABLE gnst.main.t ADD COLUMN meta.fresh DOUBLE")
    spark.sql("ALTER TABLE gnst.main.t ALTER COLUMN meta.a TYPE BIGINT")
    val m1 = cat.loadTable("main", "t").metadata.schema
    val meta = m1("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("a", "s", "fresh"))
    assert(meta("a").dataType == org.apache.spark.sql.types.LongType)

    // reads serve the evolved nested schema (old file: fresh null-fills,
    // a widens)
    val row = spark.sql("SELECT id, meta.a, meta.s, meta.fresh FROM gnst.main.t")
      .collect()(0)
    assert(row.getLong(1) == 7L && row.getString(2) == "x" && row.isNullAt(3))

    spark.sql("ALTER TABLE gnst.main.t DROP COLUMN meta.fresh")
    val m2 = cat.loadTable("main", "t").metadata.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(m2.fieldNames.toSeq == Seq("a", "s"))
    // non-struct parent and required-field guards still fire
    intercept[Exception] {
      spark.sql("ALTER TABLE gnst.main.t ADD COLUMN id.sub INT")
    }
  }

  test("TRUNCATE TABLE and SHOW TBLPROPERTIES through the V2 catalog") {
    val cat = freshCatalog("gtrn")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    spark.sql("ALTER TABLE gtrn.main.t SET TBLPROPERTIES ('graft.k' = 'v1')")
    val props = spark.sql("SHOW TBLPROPERTIES gtrn.main.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.k").contains("v1"))

    spark.sql("TRUNCATE TABLE gtrn.main.t")
    assert(spark.sql("SELECT count(*) FROM gtrn.main.t")
      .collect()(0).getLong(0) == 0)
    // truncation is a snapshot, not a wipe: history + time travel intact
    val m = cat.loadTable("main", "t").metadata
    assert(m.snapshots.length >= 2)
    assert(spark.sql(s"SELECT count(*) FROM gtrn.main.t VERSION AS OF " +
      s"${m.snapshots.head.snapshotId}").collect()(0).getLong(0) == 2)
  }

  test("mixed ALTER batch is atomic: rejected schema change drops its property changes") {
    val cat = freshCatalog("gatm")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    intercept[Exception] {
      cat // one alterTable call carrying a valid property + invalid type change
      spark.sessionState.catalogManager.catalog("gatm")
        .asInstanceOf[GraftSparkCatalog]
        .alterTable(
          org.apache.spark.sql.connector.catalog.Identifier.of(
            Array("main"), "t"),
          org.apache.spark.sql.connector.catalog.TableChange
            .setProperty("graft.delete.mode", "merge-on-read"),
          org.apache.spark.sql.connector.catalog.TableChange
            .updateColumnType(Array("v"), org.apache.spark.sql.types.LongType))
    }
    assert(!cat.loadTable("main", "t").metadata.properties
      .contains("graft.delete.mode"),
      "failed batch must not leave its property changes behind")
  }

  test("SQL UPDATE rewrites through the row-level BatchWrite") {
    val cat = freshCatalog("gupd")
    val w = new GraftWriter(cat)
    w.writeTable("main", "users",
      Seq((1 to 20).map(i => (i.toLong, s"u$i", i % 5)).toDF("id", "name", "grp")),
      Append, WriteConfig(retryUnitMs = 1), "l1")

    spark.sql("UPDATE gupd.main.users SET name = concat(name, '!') WHERE grp = 2")
    val names = spark.sql(
      "SELECT name FROM gupd.main.users WHERE grp = 2 ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("u2!", "u7!", "u12!", "u17!"))
    assert(spark.sql("SELECT count(*) FROM gupd.main.users")
      .collect()(0).getLong(0) == 20, "non-matching rows survive the rewrite")
    // the DML committed a real snapshot through the engine protocol
    val t = cat.loadTable("main", "users")
    assert(t.metadata.snapshots.last.operation == "update")
  }

  test("a SQL UPDATE refused as superseded leaves none of its staged files") {
    val cat = freshCatalog("gupdx")
    val w = new GraftWriter(cat)
    val users = (1 to 20).map(i => (i.toLong, s"u$i", i % 5))
    w.writeTable("main", "users", Seq(users.toDF("id", "name", "grp")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val t = cat.loadTable("main", "users")
    // an append lands before the UPDATE's first CAS: that attempt loses,
    // and the retry is refused because the live file set changed
    GraftTable.beforeCas.put(t.dir, () =>
      w.writeTable("main", "users", Seq(Seq((21L, "u21", 1)).toDF("id", "name", "grp")),
        Append, WriteConfig(retryUnitMs = 1), "l-concurrent"))
    val e = intercept[Exception](
      spark.sql("UPDATE gupdx.main.users SET name = concat(name, '!') WHERE grp = 2"))
    assert(!GraftTable.beforeCas.containsKey(t.dir))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("superseded by a concurrent commit")), e)
    assert(t.metadata.snapshots.flatMap(_.loadId) == Seq("l1", "l-concurrent"))
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq.sortBy(_._1) == users :+ ((21L, "u21", 1)))
    assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
  }

  Seq(("copy-on-write", "gupdfc", Map.empty[String, String]),
    ("merge-on-read", "gupdfm", Map("graft.delete.mode" -> "merge-on-read",
      "graft.primary-key" -> "id"))).foreach { case (mode, name, props) =>
    test(s"a $mode SQL UPDATE whose SET fails on one row leaves nothing staged") {
      val cat = freshCatalog(name)
      val w = new GraftWriter(cat)
      val users = (1 to 20).map(i => (i.toLong, s"u$i", i % 5))
      // one file in id order: the task writes rows before the last
      // matched row (17) raises, so the failed job leaves staged output
      w.writeTable("main", "users", Seq(users.toDF("id", "name", "grp").coalesce(1)),
        Append, WriteConfig(retryUnitMs = 1), "l1")
      val t = cat.loadTable("main", "users")
      t.commit(m => m.copy(properties = m.properties ++ props), unitMs = 1)
      intercept[Exception](spark.sql(s"UPDATE $name.main.users SET name = " +
        "CASE WHEN id = 17 THEN raise_error('boom') ELSE concat(name, '!') END " +
        "WHERE grp = 2"))
      assert(t.metadata.snapshots.flatMap(_.loadId) == Seq("l1"))
      assert(t.read().collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .toSeq.sortBy(_._1) == users)
      assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
    }
  }

  test("SQL MERGE INTO upserts through the row-level BatchWrite") {
    val cat = freshCatalog("gmrg")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t",
      Seq(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "name", "score")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    Seq((2L, "b2", 21L), (4L, "d", 40L)).toDF("id", "name", "score")
      .createOrReplaceTempView("mrg_src")

    spark.sql("""MERGE INTO gmrg.main.t AS t USING mrg_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.name = s.name, t.score = s.score
      WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, s.name, s.score)""")

    val got = spark.sql("SELECT id, name, score FROM gmrg.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L), (4L, "d", 40L)))

    // MERGE with a DELETE action
    Seq(1L, 4L).toDF("id").createOrReplaceTempView("mrg_del")
    spark.sql("""MERGE INTO gmrg.main.t AS t USING mrg_del AS s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT id FROM gmrg.main.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("merge-on-read SQL DML: delta writes commit O(delta), not a rewrite") {
    val cat = freshCatalog("gdlt")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t",
      Seq(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "name", "score")),
      Append, WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1), "l1")
    spark.sql("ALTER TABLE gdlt.main.t SET TBLPROPERTIES (" +
      "'graft.delete.mode' = 'merge-on-read', 'graft.primary-key' = 'id')")
    val before = cat.loadTable("main", "t").metadata.currentFiles.map(_.path).toSet

    // UPDATE: delete-key + reinsert, original files untouched
    spark.sql("UPDATE gdlt.main.t SET score = score + 1 WHERE id >= 2")
    val m1 = cat.loadTable("main", "t").metadata
    assert(before.subsetOf(m1.currentFiles.map(_.path).toSet),
      "delta UPDATE must not rewrite parent files")
    assert(m1.currentSnapshot.get.deletes.nonEmpty,
      "delta UPDATE must commit an equality-delete file")
    assert(spark.sql("SELECT id, score FROM gdlt.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 21L), (3L, 31L)))

    // MERGE INTO: all three actions through the delta writer
    Seq((2L, "b2", 100L), (4L, "d", 40L)).toDF("id", "name", "score")
      .createOrReplaceTempView("dlt_src")
    spark.sql("""MERGE INTO gdlt.main.t AS t USING dlt_src AS s ON t.id = s.id
      WHEN MATCHED AND s.score >= 100 THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.score = s.score
      WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, s.name, s.score)""")
    val m2 = cat.loadTable("main", "t").metadata
    assert(before.subsetOf(m2.currentFiles.map(_.path).toSet),
      "delta MERGE must not rewrite parent files")
    assert(spark.sql("SELECT id, score FROM gdlt.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (3L, 31L), (4L, 40L)))

    // DELETE with a subquery predicate cannot translate to source
    // filters, so it routes through the row-level (delta) path too
    spark.sql("""DELETE FROM gdlt.main.t WHERE id IN
      (SELECT id FROM dlt_src WHERE score = 40)""")
    assert(spark.sql("SELECT id FROM gdlt.main.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))

    // compaction applies the accumulated deletes physically; same rows
    graft.write.Maintenance.applyDeletes(cat.loadTable("main", "t"), retryUnitMs = 1)
    assert(spark.sql("SELECT id, score FROM gdlt.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (3L, 31L)))
  }

  test("MERGE INTO an empty table bootstraps via NOT MATCHED inserts") {
    val cat = freshCatalog("gemt")
    spark.sql("CREATE TABLE gemt.main.t (id BIGINT, v STRING)")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("emt_src")
    spark.sql("""MERGE INTO gemt.main.t AS t USING emt_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(spark.sql("SELECT id, v FROM gemt.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(cat.loadTable("main", "t").metadata.snapshots.nonEmpty)
  }

  test("row-level DML applies merge-on-read deletes before rewriting") {
    val cat = freshCatalog("grlo")
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1)
    w.writeTable("main", "t",
      Seq(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "score")),
      Append, cfg, "l1")
    // MoR upsert leaves an outstanding equality-delete file
    w.writeTable("main", "t", Seq(Seq((2L, 21L)).toDF("id", "score")),
      Merge("upsert"), cfg.copy(mergeOnRead = true), "l2")

    spark.sql("UPDATE grlo.main.t SET score = score + 1 WHERE id >= 2")
    val got = spark.sql("SELECT id, score FROM grlo.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 22L), (3L, 31L)),
      "the MoR-deleted (2,20) row must not resurrect")
    // the full-group rewrite cleared the applied delete files
    val snap = cat.loadTable("main", "t").metadata.currentSnapshot.get
    assert(snap.deletes.isEmpty && snap.posDeletes.isEmpty)
  }

  test("runtime group filtering: selective UPDATE rewrites only matched files") {
    val cat = freshCatalog("ggf1")
    val w = new GraftWriter(cat)
    // three files with disjoint id ranges (one append each)
    w.writeTable("main", "t", Seq((1L to 100L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    w.writeTable("main", "t", Seq((101L to 200L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1), "l2")
    w.writeTable("main", "t", Seq((201L to 300L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1), "l3")
    val before = cat.loadTable("main", "t").metadata.currentFiles.map(_.path)
    assert(before.size == 3)

    spark.sql("UPDATE ggf1.main.t SET v = -1 WHERE id = 150")
    val after = cat.loadTable("main", "t").metadata.currentFiles.map(_.path)
    // files whose [min,max] id range provably excludes 150 survive BY PATH
    val survivors = before.toSet.intersect(after.toSet)
    assert(survivors.size == 2,
      s"expected 2 untouched files to survive by path; before=$before after=$after")
    // content exact
    assert(spark.sql("SELECT v FROM ggf1.main.t WHERE id = 150")
      .collect()(0).getLong(0) == -1L)
    val r = spark.sql("SELECT count(*), sum(CASE WHEN v = -1 THEN 1 ELSE 0 END) " +
      "FROM ggf1.main.t").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((300L, 1L)))
  }

  test("runtime group filtering: selective MERGE leaves out-of-range files by path") {
    val cat = freshCatalog("ggf2")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    w.writeTable("main", "t", Seq((101L to 200L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1), "l2")
    w.writeTable("main", "t", Seq((201L to 300L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1), "l3")
    val before = cat.loadTable("main", "t").metadata.currentFiles.map(_.path)
    assert(before.size == 3)

    // source touches ONLY the middle file's range, plus one fresh key
    Seq((150L, "UPDATED"), (999L, "INSERTED")).toDF("id", "v")
      .createOrReplaceTempView("ggf2_src")
    spark.sql("""MERGE INTO ggf2.main.t AS t USING ggf2_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")

    val after = cat.loadTable("main", "t").metadata.currentFiles.map(_.path)
    val survivors = before.toSet.intersect(after.toSet)
    assert(survivors.size == 2,
      s"files provably outside the source key range must survive by path; " +
        s"before=$before after=$after")
    val got = spark.sql(
      "SELECT v FROM ggf2.main.t WHERE id IN (150, 999) ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("UPDATED", "INSERTED"))
    assert(spark.sql("SELECT count(*) FROM ggf2.main.t")
      .collect()(0).getLong(0) == 301)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source's new nullable column") {
    val cat = freshCatalog("gmse")
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    Seq((2L, "b2", 20L), (3L, "c", 30L)).toDF("id", "v", "score")
      .createOrReplaceTempView("gmse_src")

    // without the evolution clause the schema must NOT change (the star
    // actions map the target's columns; the extra source column is
    // dropped)
    spark.sql("""MERGE INTO gmse.main.t AS t USING gmse_src AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(cat.loadTable("main", "t").metadata.schema.fieldNames.toSeq ==
      Seq("id", "v"))

    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO gmse.main.t AS t
      USING gmse_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // schema evolved through the engine's rules (nullable append),
    // committed as a schema version; old rows null-fill
    val got = spark.sql("SELECT id, v, score FROM gmse.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b2", Some(20L)),
      (3L, "c", Some(30L))))
    val m = cat.loadTable("main", "t").metadata
    assert(m.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(m.schema("score").nullable)
    assert(m.schemaVersion == 2, s"evolution must bump the schema version")
  }

  test("graft.primary-key claims are validated, not trusted") {
    val cat = freshCatalog("gpkv")
    val w = new GraftWriter(cat)
    // a NULL key in existing data: the claim must be rejected (the V2
    // schema would report the column non-null and the optimizer would
    // fold `id IS NULL` to false — silent wrong results)
    w.writeTable("main", "dirty",
      Seq(Seq((Some(1L), "a"), (None: Option[Long], "b")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE gpkv.main.dirty SET TBLPROPERTIES " +
        "('graft.primary-key' = 'id')")
    }
    assert(e1.getMessage.contains("NULL"), e1.getMessage)

    // a column that does not exist: rejected at DDL time
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gpkv.main.dirty SET TBLPROPERTIES " +
        "('graft.primary-key' = 'nope')")
    }
    assert(e2.getMessage.contains("not in table schema"), e2.getMessage)
    // ...same check at CREATE TABLE
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE gpkv.main.bad (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.primary-key' = 'nope')")
    }
    assert(e3.getMessage.contains("not in table schema"), e3.getMessage)

    // null-free data: the claim is accepted and the V2 schema reports
    // the key non-nullable
    w.writeTable("main", "clean",
      Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    spark.sql("ALTER TABLE gpkv.main.clean SET TBLPROPERTIES " +
      "('graft.primary-key' = 'id')")
    assert(!spark.table("gpkv.main.clean").schema("id").nullable)

    // and the claim is then ENFORCED on writes: a load that would add
    // NULL keys refuses to commit
    val e4 = intercept[Exception] {
      w.writeTable("main", "clean",
        Seq(Seq((Some(3L), "c"), (None: Option[Long], "d")).toDF("id", "v")),
        Append, WriteConfig(retryUnitMs = 1), "l2")
    }
    assert(e4.getMessage.contains("primary-key"), e4.getMessage)
    assert(spark.sql("SELECT count(*) FROM gpkv.main.clean")
      .collect()(0).getLong(0) == 2)
  }

  test("ADD COLUMN FIRST/AFTER is rejected, not silently reordered") {
    val cat = freshCatalog("gpos")
    spark.sql("CREATE TABLE gpos.main.t (id BIGINT, v STRING)")
    val e = intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE gpos.main.t ADD COLUMN early INT AFTER id")
    }
    assert(e.getMessage.contains("FIRST/AFTER"), e.getMessage)
    // plain appends still work
    spark.sql("ALTER TABLE gpos.main.t ADD COLUMN late INT")
    assert(spark.table("gpos.main.t").schema.fieldNames.toSeq ==
      Seq("id", "v", "late"))
    assert(cat.tableExists("main", "t"))
  }

  test("metadata-tier aggregate pushdown: filter-free COUNT/MIN/MAX answer without file IO") {
    val cat = freshCatalog("gagg")
    val w = new GraftWriter(cat)
    w.writeTable("main", "m",
      Seq((1 to 500).map(i => (i.toLong, (i % 7).toDouble, s"s$i",
        if (i % 10 == 0) None else Some(i * 2L)))
        .toDF("id", "v", "name", "maybe")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    w.writeTable("main", "m",
      Seq((501 to 800).map(i => (i.toLong, (i % 7).toDouble, s"s$i",
        Some(i * 2L): Option[Long]))
        .toDF("id", "v", "name", "maybe")),
      Append, WriteConfig(retryUnitMs = 1), "l2")

    def planOf(sql: String) =
      spark.sql(sql).queryExecution.executedPlan.toString

    // COUNT(*), COUNT(col with nulls), MIN/MAX: one metadata row, zero
    // file IO — the plan scans graft-meta-agg, never parquet
    val q = "SELECT count(*) AS c, count(maybe) AS cm, min(id) AS mn, " +
      "max(v) AS mx FROM gagg.main.m"
    assert(planOf(q).contains("graft-meta-agg"), planOf(q))
    val r = spark.sql(q).collect()(0)
    assert(r.getLong(0) == 800L)
    assert(r.getLong(1) == 750L) // 50 nulls in load 1
    assert(r.getLong(2) == 1L && r.getDouble(3) == 6.0)

    // any filter disables the metadata tier (results unchanged)
    val qf = "SELECT count(*) FROM gagg.main.m WHERE id <= 100"
    assert(!planOf(qf).contains("graft-meta-agg"))
    assert(spark.sql(qf).collect()(0).getLong(0) == 100L)

    // GROUP BY disables it
    val qg = "SELECT v, count(*) FROM gagg.main.m GROUP BY v"
    assert(!planOf(qg).contains("graft-meta-agg"))

    // string MIN/MAX never trusts footer stats (writer truncation)
    val qs = "SELECT min(name) FROM gagg.main.m"
    assert(!planOf(qs).contains("graft-meta-agg"))
    assert(spark.sql(qs).collect()(0).getString(0) == "s1")

    // outstanding MoR deletes disable it — and the count stays exact
    val mor = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "mm",
      Seq((1 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "x")),
      Append, mor, "l1")
    w.writeTable("main", "mm", Seq(Seq((5L, 500L)).toDF("id", "x")),
      Merge("upsert"), mor, "l2")
    val qm = "SELECT count(*) AS c, max(x) AS mx FROM gagg.main.mm"
    assert(!planOf(qm).contains("graft-meta-agg"))
    val rm = spark.sql(qm).collect()(0)
    assert(rm.getLong(0) == 100L && rm.getLong(1) == 500L)

    // a schema-evolution straggler (old files lack the new column's
    // stats) falls back for COUNT(newcol) yet stays correct
    spark.sql("ALTER TABLE gagg.main.m ADD COLUMN extra BIGINT")
    w.writeTable("main", "m",
      Seq(Seq((801L, 1.0, "s801", Some(1602L): Option[Long], Some(9L)))
        .toDF("id", "v", "name", "maybe", "extra")),
      Append, WriteConfig(retryUnitMs = 1), "l3")
    val qe = "SELECT count(extra) FROM gagg.main.m"
    assert(!planOf(qe).contains("graft-meta-agg"))
    assert(spark.sql(qe).collect()(0).getLong(0) == 1L)
    // while COUNT(*) still answers from metadata after evolution
    val qc = "SELECT count(*) FROM gagg.main.m"
    assert(planOf(qc).contains("graft-meta-agg"))
    assert(spark.sql(qc).collect()(0).getLong(0) == 801L)

    // time travel composes: VERSION AS OF folds THAT snapshot's stats
    val qv = "SELECT count(*) FROM gagg.main.m VERSION AS OF 1"
    assert(planOf(qv).contains("graft-meta-agg"), planOf(qv))
    assert(spark.sql(qv).collect()(0).getLong(0) == 500L)

    // GROUP BY an identity-partition column answers per-group from
    // metadata: value-exact staging makes each file's key a stats fact
    w.writeTable("main", "p",
      Seq((1 to 400).map(i => (i.toLong, s"g${i % 4}", i.toLong * 3))
        .toDF("id", "grp", "v")),
      Append, WriteConfig(retryUnitMs = 1,
        partitions = Seq(graft.partition.PartitionHint.identity("grp"))), "l1")
    val qp = "SELECT grp, count(*) AS n, min(v) AS mn, max(v) AS mx " +
      "FROM gagg.main.p GROUP BY grp"
    assert(planOf(qp).contains("graft-meta-agg"), planOf(qp))
    val rp = spark.sql(qp).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(rp.keySet == Set("g0", "g1", "g2", "g3"))
    (0 to 3).foreach { g =>
      val ids = (1 to 400).filter(_ % 4 == g)
      assert(rp(s"g$g") ==
        ((ids.size.toLong, ids.min.toLong * 3, ids.max.toLong * 3)), s"g$g")
    }
    // grouping on a NON-partition column falls back and stays correct
    val qn = "SELECT v % 2, count(*) FROM gagg.main.p GROUP BY v % 2"
    assert(!planOf(qn).contains("graft-meta-agg"))
    assert(spark.sql(qn).collect().map(_.getLong(1)).sum == 400L)

    // filters on identity-partition columns stay metadata-served: the
    // predicate evaluates once per value-exact file, selecting whole
    // files (the filtered form of Iceberg's manifest answering)
    val qpf = "SELECT count(*) AS n, min(v) AS mn FROM gagg.main.p " +
      "WHERE grp = 'g1'"
    assert(planOf(qpf).contains("graft-meta-agg"), planOf(qpf))
    val rf = spark.sql(qpf).collect()(0)
    val g1 = (1 to 400).filter(_ % 4 == 1)
    assert(rf.getLong(0) == g1.size.toLong && rf.getLong(1) == g1.min * 3L)
    // composite predicates (IN, !=) evaluate the same way, grouped too
    val qin = "SELECT grp, count(*) AS n FROM gagg.main.p " +
      "WHERE grp IN ('g1', 'g2') GROUP BY grp"
    assert(planOf(qin).contains("graft-meta-agg"), planOf(qin))
    assert(spark.sql(qin).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
      == Map("g1" -> 100L, "g2" -> 100L))
    // a filter touching a NON-partition column falls back (and stays
    // correct) — file-level evaluation would be unsound there
    val qmix = "SELECT count(*) FROM gagg.main.p WHERE grp = 'g1' AND v > 30"
    assert(!planOf(qmix).contains("graft-meta-agg"))
    assert(spark.sql(qmix).collect()(0).getLong(0) ==
      g1.count(_ * 3 > 30).toLong)

    // claimed filters + MetaAgg refusal must NOT fall through to the
    // parquet aggregate tier: that builder covers ALL files and received
    // no filters once they were claimed, so accepting there would marry
    // a pushed-aggregate plan shape to the claimed-files row scan. Build
    // a refusal case (COUNT(col) with an evolution straggler inside the
    // claimed group) and force the parquet tier on.
    w.writeTable("main", "pc",
      Seq((1 to 40).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "grp")),
      Append, WriteConfig(retryUnitMs = 1,
        partitions = Seq(graft.partition.PartitionHint.identity("grp"))), "l1")
    spark.sql("ALTER TABLE gagg.main.pc ADD COLUMN name STRING")
    w.writeTable("main", "pc",
      Seq((41 to 60).map(i => (i.toLong, s"g${i % 2}", s"n$i"))
        .toDF("id", "grp", "name")),
      Append, WriteConfig(retryUnitMs = 1,
        partitions = Seq(graft.partition.PartitionHint.identity("grp"))), "l2")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val qcl = "SELECT count(name) AS n FROM gagg.main.pc WHERE grp = 'g1'"
      val p = planOf(qcl)
      assert(!p.contains("graft-meta-agg") && !p.contains("PushedAggregation: [COUNT("),
        s"claimed filters must refuse the unfiltered parquet aggregate tier:\n$p")
      assert(spark.sql(qcl).collect()(0).getLong(0) ==
        (41 to 60).count(_ % 2 == 1).toLong)
      // sanity: without a filter, a referenced column missing stats on
      // some file (the straggler predates it) refuses the parquet tier
      // too — footer-aggregate pushdown would crash indexing past the
      // old file's schema — and the value stays exact via the row scan
      val qnf = "SELECT count(name) AS n FROM gagg.main.pc"
      assert(!planOf(qnf).contains("PushedAggregation: [COUNT("), planOf(qnf))
      assert(spark.sql(qnf).collect()(0).getLong(0) == 20L)
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("range-constancy claiming: grain-aligned temporal WHERE on a day-partitioned table is metadata-served") {
    val cat = freshCatalog("grng")
    val w = new GraftWriter(cat)
    def planOf(q: String): String = spark.sql(q).queryExecution.executedPlan.toString
    // 10 days x 24 hourly rows, day-partitioned: each file's ts range
    // sits inside one day by construction
    val rows = (0 until 240).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2026, 1, 1 + i / 24, i % 24, 30)))
    }
    w.writeTable("main", "ev", Seq(rows.toDF("id", "ts")), Append,
      WriteConfig(retryUnitMs = 1,
        partitions = Seq(graft.partition.PartitionHint.day("ts"))), "l1")
    // grain-aligned >= : pure file selection, COUNT folds from metadata
    val q1 = "SELECT count(*) AS n FROM grng.main.ev " +
      "WHERE ts >= TIMESTAMP '2026-01-04 00:00:00'"
    assert(planOf(q1).contains("graft-meta-agg"), planOf(q1))
    assert(spark.sql(q1).collect()(0).getLong(0) == 7 * 24L)
    // aligned half-open range
    val q2 = "SELECT count(*) AS n FROM grng.main.ev " +
      "WHERE ts >= TIMESTAMP '2026-01-03 00:00:00' " +
      "AND ts < TIMESTAMP '2026-01-05 00:00:00'"
    assert(planOf(q2).contains("graft-meta-agg"), planOf(q2))
    assert(spark.sql(q2).collect()(0).getLong(0) == 2 * 24L)
    // claiming evaluates its per-file predicates interpreted: planning a
    // claimed query with literals no earlier query used compiles no class
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val fresh = "SELECT count(*) AS n FROM grng.main.ev " +
      "WHERE ts >= TIMESTAMP '2026-01-06 00:00:00'"
    spark.sql(fresh).queryExecution.optimizedPlan
    assert(compiles.getCount == before, "claim planning compiled generated code")
    assert(planOf(fresh).contains("graft-meta-agg"), planOf(fresh))
    // NON-grain-aligned boundary straddles a file: refuse the claim,
    // fall back to the pushed-filter scan, stay exact
    val q3 = "SELECT count(*) AS n FROM grng.main.ev " +
      "WHERE ts >= TIMESTAMP '2026-01-04 12:00:00'"
    assert(!planOf(q3).contains("graft-meta-agg"), planOf(q3))
    assert(spark.sql(q3).collect()(0).getLong(0) == 6 * 24L + 12L)
    // equality on the raw timestamp never selects whole files here
    val q4 = "SELECT count(*) AS n FROM grng.main.ev " +
      "WHERE ts = TIMESTAMP '2026-01-04 05:30:00'"
    assert(!planOf(q4).contains("graft-meta-agg"))
    assert(spark.sql(q4).collect()(0).getLong(0) == 1L)
    // row scans under a claimed filter plan only the matching files
    // (the scan may be SPJ-wrapped, so read the path count off the plan)
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      "InMemoryFileIndex\\((\\d+) paths?\\)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    val total = cat.loadTable("main", "ev").metadata.currentFiles.size
    val rowsQ = spark.sql("SELECT id FROM grng.main.ev " +
      "WHERE ts >= TIMESTAMP '2026-01-09 00:00:00'")
    assert(scanned(rowsQ) > 0 && scanned(rowsQ) < total,
      s"claimed rows scan must plan a file subset, ${scanned(rowsQ)} of $total\n" +
        rowsQ.queryExecution.executedPlan.toString)
    assert(rowsQ.count() == 2 * 24L)
    // outstanding MoR deletes refuse claiming entirely
    val mor = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true, partitions = Seq(graft.partition.PartitionHint.day("ts")))
    w.writeTable("main", "evm", Seq(rows.toDF("id", "ts")), Append, mor, "l1")
    w.writeTable("main", "evm",
      Seq(Seq((5L, rows(5)._2)).toDF("id", "ts")), Merge("upsert"), mor, "l2")
    val qm = "SELECT count(*) AS n FROM grng.main.evm " +
      "WHERE ts >= TIMESTAMP '2026-01-04 00:00:00'"
    assert(!planOf(qm).contains("graft-meta-agg"))
    assert(spark.sql(qm).collect()(0).getLong(0) == 7 * 24L)
  }

  test("limit pushdown narrows the scan to the file prefix that covers n rows") {
    val cat = freshCatalog("glim")
    val w = new GraftWriter(cat)
    // ten 100-row files via the record bound
    w.writeTable("main", "t",
      Seq((1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1, maxRecordsPerFile = 100L), "l1")
    val total = cat.loadTable("main", "t").metadata.currentFiles.size
    assert(total >= 8, s"need a multi-file table, got $total")
    // DataFrame.inputFiles is blind to DSv2 scans: read the planned
    // file set off the BatchScanExec's file index instead
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length
            case _ => -1
          }
      }.headOption.getOrElse(-1)
    val limited = spark.sql("SELECT * FROM glim.main.t LIMIT 30")
    val nLim = scannedFiles(limited)
    assert(nLim > 0 && nLim < total,
      s"LIMIT 30 must plan a file-prefix scan, planned $nLim of $total")
    assert(limited.count() == 30L, "the limit itself stays exact")
    // a filter disables the file-prefix cut (the chosen files might not
    // contain n matching rows) — result count still exact. The suffix
    // filter is one no file's stats can exclude, so every file is planned
    val filtered = spark.sql("SELECT * FROM glim.main.t WHERE v LIKE '%0' LIMIT 30")
    assert(scannedFiles(filtered) == total,
      s"a filtered limit must keep the full scan, got ${scannedFiles(filtered)}")
    assert(filtered.count() == 30L)
    // a filter the stats can decide still prunes by stats, never by the
    // limit: only the file holding ids 901-1000 can match id > 950
    val pruned = spark.sql("SELECT * FROM glim.main.t WHERE id > 950 LIMIT 30")
    assert(scannedFiles(pruned) == 1,
      s"a stats-pruned limit must plan the one matching file, got ${scannedFiles(pruned)}")
    assert(pruned.count() == 30L)
    // MoR deletes disable it too
    val mor = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "tm",
      Seq((1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)),
      Append, mor.copy(maxRecordsPerFile = 100L), "l1")
    w.writeTable("main", "tm", Seq(Seq((7L, "upd")).toDF("id", "v")),
      Merge("upsert"), mor, "l2")
    val morLim = spark.sql("SELECT * FROM glim.main.tm LIMIT 10")
    assert(morLim.count() == 10L)
    assert(spark.sql("SELECT v FROM glim.main.tm WHERE id = 7")
      .collect()(0).getString(0) == "upd")
  }

  test("TopN pushdown: ORDER BY the sort-order key LIMIT k plans the covering file prefix") {
    val cat = freshCatalog("gtop")
    val w = new GraftWriter(cat)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length
            case _ => -1
          }
      }.headOption.getOrElse(-1)
    // declared sort order + jumbled load: files end up range-disjoint
    w.writeTable("main", "s", Seq(Seq((0L, 0L)).toDF("id", "score").limit(0)),
      Append, WriteConfig(retryUnitMs = 1), "l0")
    cat.loadTable("main", "s").commit(m => m.copy(properties =
      m.properties + (GraftWriter.SortOrderProperty -> "score")), unitMs = 1)
    val jumbled = (1L to 2000L).map(i => (i, (i * 48271L) % 100000L))
      .toDF("id", "score").repartition(8)
    w.writeTable("main", "s", Seq(jumbled), Append,
      WriteConfig(retryUnitMs = 1, maxRecordsPerFile = 250L), "l1")
    val total = cat.loadTable("main", "s").metadata.currentFiles
      .count(_.rowCount > 1)
    assert(total >= 6, s"need a multi-file sorted table, got $total")

    // ascending with a tiebreak column: the lead-key prefix is enough
    val top = spark.sql(
      "SELECT id, score FROM gtop.main.s ORDER BY score, id LIMIT 40")
    assert(scannedFiles(top) in (1 until total),
      s"TopN must plan a file prefix, planned ${scannedFiles(top)} of $total")
    val expect = (1L to 2000L).map(i => (i, (i * 48271L) % 100000L))
      .sortBy { case (i, s) => (s, i) }.take(40)
    assert(top.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expect)

    // descending flips the prefix to the max end
    val bottom = spark.sql(
      "SELECT id, score FROM gtop.main.s ORDER BY score DESC, id LIMIT 40")
    assert(scannedFiles(bottom) in (1 until total))
    val expectDesc = (1L to 2000L).map(i => (i, (i * 48271L) % 100000L))
      .sortBy { case (i, s) => (-s, i) }.take(40)
    assert(bottom.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == expectDesc)

    // an UNSORTED table's overlapping ranges push the cut much later (a
    // strict gap may still occur by chance in a random layout — the cut
    // is correct wherever it lands) and the answer stays exact
    w.writeTable("main", "u", Seq(jumbled), Append,
      WriteConfig(retryUnitMs = 1, maxRecordsPerFile = 250L), "l1")
    val totalU = cat.loadTable("main", "u").metadata.currentFiles.size
    val topU = spark.sql(
      "SELECT id, score FROM gtop.main.u ORDER BY score, id LIMIT 40")
    assert(scannedFiles(topU) >= totalU - 1,
      s"overlapping ranges admit no early cut, got ${scannedFiles(topU)} of $totalU")
    assert(topU.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expect)
  }

  test("TopN pushdown: an early wide file overlapping later files blocks the cut (running-extreme gap)") {
    // Multi-append layout: file A [1,100] (6 rows), file B [2,3], file
    // C [50,60]. Sorted by min, a naive gap test between B (max 3) and
    // C (min 50) would plan only {A, B} for LIMIT 5 — but A reaches past
    // the gap, so the true top-5 {1,2,3,50,60} needs C. The gap proof
    // must hold against the RUNNING max of the whole prefix.
    val cat = freshCatalog("gtov")
    val w = new GraftWriter(cat)
    def appendRows(scores: Seq[Long], label: String): Unit =
      w.writeTable("main", "o",
        Seq(scores.zipWithIndex.map { case (s, i) => (label + i, s) }
          .toDF("id", "score").coalesce(1)),
        Append, WriteConfig(retryUnitMs = 1), label)
    appendRows(Seq(1L, 96L, 97L, 98L, 99L, 100L), "a")
    appendRows(Seq(2L, 3L), "b")
    appendRows(Seq(50L, 60L), "c")
    assert(cat.loadTable("main", "o").metadata.currentFiles.size == 3)
    val got = spark.sql(
      "SELECT score FROM gtov.main.o ORDER BY score LIMIT 5")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 50L, 60L), s"got $got")
    // mirrored layout for DESC: wide low file plus narrow high files
    def appendRows2(scores: Seq[Long], label: String): Unit =
      w.writeTable("main", "o2",
        Seq(scores.zipWithIndex.map { case (s, i) => (label + i, s) }
          .toDF("id", "score").coalesce(1)),
        Append, WriteConfig(retryUnitMs = 1), label)
    appendRows2(Seq(100L, 5L, 4L, 3L, 2L, 1L), "a")
    appendRows2(Seq(99L, 98L), "b")
    appendRows2(Seq(50L, 40L), "c")
    val gotD = spark.sql(
      "SELECT score FROM gtov.main.o2 ORDER BY score DESC LIMIT 5")
      .collect().map(_.getLong(0)).toSeq
    assert(gotD == Seq(100L, 99L, 98L, 50L, 40L), s"got $gotD")
  }

  test("TopN pushdown fuzz: random layouts, directions, and limits always match the full sort") {
    // heavy score ties + random file sizes + a random sort-order flag
    // stress the strict-gap cut from every side; the full in-memory sort
    // is the oracle. Covers prefix cuts landing early, late, and nowhere.
    val cat = freshCatalog("gtopf")
    val w = new GraftWriter(cat)
    val rnd = new scala.util.Random(7)
    (0 until 6).foreach { t =>
      val n = 300 + rnd.nextInt(700)
      val rows = (1 to n).map(i =>
        ((i * 2654435761L) % 10007L, rnd.nextInt(40).toLong))
      val sorted = rnd.nextBoolean()
      val name = s"f$t"
      w.writeTable("main", name,
        Seq(Seq((0L, 0L)).toDF("id", "score").limit(0)), Append,
        WriteConfig(retryUnitMs = 1), "l0")
      if (sorted) cat.loadTable("main", name).commit(m => m.copy(properties =
        m.properties + (GraftWriter.SortOrderProperty -> "score")), unitMs = 1)
      // sometimes split the load across several appends: multi-append
      // layouts overlap even under a declared sort order (each append
      // range-clusters only its own batch), the exact layout class the
      // running-extreme gap proof exists for
      val chunks =
        if (rnd.nextBoolean()) Seq(rows)
        else {
          val cut = 1 + rnd.nextInt(rows.size - 1)
          Seq(rows.take(cut), rows.drop(cut))
        }
      chunks.zipWithIndex.foreach { case (ch, ci) =>
        w.writeTable("main", name,
          Seq(ch.toDF("id", "score").repartition(1 + rnd.nextInt(6))), Append,
          WriteConfig(retryUnitMs = 1,
            maxRecordsPerFile = (20 + rnd.nextInt(200)).toLong), s"l${ci + 1}")
      }
      val k = 1 + rnd.nextInt(80)
      val desc = rnd.nextBoolean()
      val dir = if (desc) " DESC" else ""
      val got = spark.sql(s"SELECT id, score FROM gtopf.main.$name " +
          s"ORDER BY score$dir, id LIMIT $k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val exp = (if (desc) rows.sortBy { case (i, s) => (-s, i) }
        else rows.sortBy { case (i, s) => (s, i) }).take(k)
      assert(got == exp, s"trial $t sorted=$sorted k=$k desc=$desc")
    }
  }

  private implicit class InRange(n: Int) {
    def in(r: Range): Boolean = r.contains(n)
  }
}
