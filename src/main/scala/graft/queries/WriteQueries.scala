package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.catalog.GraftCatalog
import graft.pipeline.GraftPipeline
import graft.write._

/** Write-engine operators (SURVEY §2.7 D1-D5, §2.6 C5/C8, §2.1 S5-S6)
  * exposed as driver-checkable queries: each entry runs a real
  * write-path scenario through GraftWriter/GraftPipeline against a scratch
  * warehouse, reads the committed snapshot back, and the oracle SQL
  * computes the same result relationally in DuckDB over the original
  * parquet tables.
  *
  * Scenario inputs are deterministic key-range slices of `orders`:
  *   target  = orders with o_orderkey % 3 != 0
  *   source  = orders with o_orderkey % 2 = 0, totalprice uplifted 10%
  * so merge results exercise update + insert + untouched rows at every
  * scale factor.
  */
object WriteQueries {

  private def scratch(spark: SparkSession): GraftCatalog =
    new GraftCatalog(spark,
      Files.createTempDirectory("graft-q-").toString)

  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority")

  private def target(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
      .select(orderCols.map(col): _*)

  private def source(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") + 10.0).as("o_totalprice"),
        col("o_orderpriority"))

  private val cfg = WriteConfig(primaryKey = Seq("o_orderkey"), retryUnitMs = 10)

  private def keyPrice(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_totalprice"))

  /** Record an exported Iceberg tree's location for the independent
    * post-check (`tools/check_iceberg_walk.py` walks the tree with a
    * third, pure-Python implementation and hash-compares against the
    * engine's Verify output). Same staging root the oracle
    * intermediates use. */
  private def stageIcebergTree(name: String, treeDir: String): Unit = {
    val root = sys.props.get("graft.oracle.stage.dir")
      .orElse(sys.env.get("GRAFT_ORACLE_STAGE"))
      .getOrElse("/tmp/graft-oracle-stage")
    Files.createDirectories(java.nio.file.Paths.get(root))
    Files.writeString(
      java.nio.file.Paths.get(root, s"${name}_tree.txt"), treeDir)
  }

  /** SQL fragments shared by the oracles. */
  private val targetSql =
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
      "FROM orders WHERE o_orderkey % 3 <> 0"
  private val sourceSql =
    "SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "o_totalprice + 10.0 AS o_totalprice, o_orderpriority " +
      "FROM orders WHERE o_orderkey % 2 = 0"

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    // D1 append: two loads accumulate; read back via committed snapshots
    "w1_append" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        val tbl = w.writeTable("main", "orders_t", Seq(source(s, dir)), Append, cfg, "l2")
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)""".stripMargin)),

    // D2 replace: second load truncates-and-inserts
    "w2_replace" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        val tbl = w.writeTable("main", "orders_t", Seq(source(s, dir)), Replace, cfg, "l2")
        keyPrice(tbl.read())
      },
      s"SELECT o_orderkey, o_totalprice FROM ($sourceSql)")),

    // D4 merge/upsert: target rows with matching keys replaced by source,
    // new keys inserted — oracle is the anti-join + union formulation (J2)
    "w3_merge_upsert" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Merge("upsert"), cfg, "l1")
        val tbl = w.writeTable("main", "orders_t", Seq(source(s, dir)), Merge("upsert"), cfg, "l2")
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql) tgt
         |WHERE tgt.o_orderkey NOT IN (SELECT o_orderkey FROM ($sourceSql))
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)""".stripMargin)),

    // D3 merge/delete-insert: same end state as upsert for unique keys —
    // verified against the same relational oracle, but committed as ONE
    // snapshot (counted in the returned frame)
    "w4_merge_delete_insert" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Merge("delete-insert"), cfg, "l1")
        val tbl = w.writeTable("main", "orders_t", Seq(source(s, dir)),
          Merge("delete-insert"), cfg, "l2")
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql) tgt
         |WHERE tgt.o_orderkey NOT IN (SELECT o_orderkey FROM ($sourceSql))
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)""".stripMargin)),

    // D5 hard delete: source rows with o_orderkey % 10 = 0 arrive marked
    // deleted — they vanish from the table and are not inserted
    "w5_hard_delete" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Merge("delete-insert"), cfg, "l1")
        val marked = source(s, dir).withColumn("_dlt_deleted_at",
          when(col("o_orderkey") % 10 === 0, current_timestamp()))
        val tbl = w.writeTable("main", "orders_t", Seq(marked),
          Merge("delete-insert"), cfg, "l2")
        tbl.read().select(col("o_orderkey"))
      },
      s"""SELECT o_orderkey FROM ($targetSql) tgt
         |WHERE tgt.o_orderkey NOT IN (SELECT o_orderkey FROM ($sourceSql))
         |UNION ALL
         |SELECT o_orderkey FROM ($sourceSql) WHERE o_orderkey % 10 <> 0""".stripMargin)),

    // C8 evolution + C5 sparse cast: first load without o_orderpriority,
    // second with it -> old rows read back null, new rows carry values
    "w6_evolution_sparse" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        w.writeTable("main", "orders_t",
          Seq(target(s, dir).drop("o_orderpriority")), Append, cfg, "l1")
        val tbl = w.writeTable("main", "orders_t", Seq(source(s, dir)), Append, cfg, "l2")
        tbl.read().select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      },
      s"""SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS o_orderpriority
         |FROM ($targetSql)
         |UNION ALL
         |SELECT o_orderkey, o_custkey, o_orderpriority FROM ($sourceSql)""".stripMargin)),

    // S2/time travel: read the FIRST snapshot after three loads
    "w7_time_travel" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        val tbl = w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        val firstSnap = tbl.metadata.currentSnapshotId.get
        w.writeTable("main", "orders_t", Seq(source(s, dir)), Append, cfg, "l2")
        w.writeTable("main", "orders_t", Seq(source(s, dir)), Replace, cfg, "l3")
        tbl.readSnapshot(firstSnap).select(col("o_orderkey"))
      },
      s"SELECT o_orderkey FROM ($targetSql)")),

    // history navigation: append twice, read the incremental append feed
    // since load 1 (= exactly load 2's rows), then roll back to load 1
    // (metadata-only manifest re-reference) and read the current snapshot
    "w12_incremental_rollback" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        val tbl = w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        val s1 = tbl.metadata.currentSnapshotId.get
        w.writeTable("main", "orders_t", Seq(source(s, dir)), Append, cfg, "l2")
        val added = tbl.readAppendsSince(s1)
          .select(col("o_orderkey"), col("o_totalprice"))
        tbl.rollbackTo(s1)
        val rolledBack = tbl.read().select(col("o_orderkey"), col("o_totalprice"))
        added.withColumn("phase", lit("added"))
          .unionByName(rolledBack.withColumn("phase", lit("rolled_back")))
      },
      s"""SELECT o_orderkey, o_totalprice, 'added' AS phase FROM ($sourceSql)
         |UNION ALL
         |SELECT o_orderkey, o_totalprice, 'rolled_back' AS phase FROM ($targetSql)""".stripMargin)),

    // the V2 catalog plugin: the committed table queried through plain
    // `spark.sql("... FROM <catalog>.<ns>.<table>")` — catalog resolution,
    // snapshot file listing, schema imposition, and pushdown all flow
    // through Spark's DataSource V2 path instead of the library API
    "w13_sql_catalog" -> ((
      (s0: SparkSession, dir: String) => {
        // fresh CatalogManager per invocation: Spark caches catalog
        // instances by NAME, so re-registering the same name with a new
        // warehouse on a shared session silently serves the FIRST
        // warehouse (a bench double-run hit run-1 state and failed)
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-v2q-").toString
        s.conf.set("spark.sql.catalog.graft_drv",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_drv.warehouse", wh)
        val w = new GraftWriter(new GraftCatalog(s, wh))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
          |FROM graft_drv.main.orders_t
          |WHERE o_orderkey % 5 <> 1
          |GROUP BY o_orderstatus""".stripMargin)
      },
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
         |FROM ($targetSql) WHERE o_orderkey % 5 <> 1
         |GROUP BY o_orderstatus""".stripMargin)),

    // maintenance: compaction is content-neutral — many small loads,
    // compact, read back; oracle is the plain union of the loads
    "w9_compact" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        val tbl = w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        w.writeTable("main", "orders_t", Seq(source(s, dir)), Append, cfg, "l2")
        graft.write.Maintenance.compact(tbl, smallFileBytes = 1L << 30,
          targetFileBytes = 1L << 30, retryUnitMs = 10)
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)""".stripMargin)),

    // maintenance: z-order clustering rewrite — content-neutral like
    // compaction, and the pruned range scan on the NON-lead clustering
    // column must still return exactly the relational filter's rows
    "w14_zorder" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        val tbl = w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        graft.write.Maintenance.zorder(tbl, Seq("o_orderkey", "o_custkey"),
          targetFiles = 8, retryUnitMs = 10)
        tbl.scanRange("o_custkey", 1L, 50L)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM ($targetSql)
         |WHERE o_custkey BETWEEN 1 AND 50""".stripMargin)),

    // D4 merge-on-read (Iceberg v2 equality deletes): same relational
    // end state as w3+w5, but each merge commits ONE tiny delete-key
    // file instead of rewriting affected data files — O(batch) commit IO
    // for trickle upserts. The returned frame goes through the
    // sequence-fenced broadcast anti-join read (MorRead); the physical
    // apply-deletes rewrite is pinned content-neutral in MergeOnReadSpec.
    "w15_merge_on_read" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        val morCfg = cfg.copy(mergeOnRead = true)
        w.writeTable("main", "orders_t", Seq(target(s, dir)),
          Merge("upsert"), morCfg, "l1")
        val marked = source(s, dir).withColumn("_dlt_deleted_at",
          when(col("o_orderkey") % 10 === 0, current_timestamp()))
        val tbl = w.writeTable("main", "orders_t", Seq(marked),
          Merge("upsert"), morCfg, "l2")
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql) tgt
         |WHERE tgt.o_orderkey NOT IN (SELECT o_orderkey FROM ($sourceSql))
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)
         |WHERE o_orderkey % 10 <> 0""".stripMargin)),

    // Write-audit-publish via named refs (Iceberg branch semantics):
    // the second load commits to an "audit" branch — main readers see
    // only the first load until publish fast-forwards main onto the
    // audited head. The returned frame is the post-publish main read;
    // isolation before publish and divergence refusal are pinned in
    // BranchSpec.
    "w16_wap_branch" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        val tbl = w.writeTable("main", "orders_t", Seq(target(s, dir)),
          Append, cfg, "l1")
        tbl.createBranch("audit")
        w.writeTable("main", "orders_t", Seq(source(s, dir)), Append,
          cfg.copy(toBranch = Some("audit")), "l2")
        val mainBefore = tbl.read().count()
        tbl.publish("audit")
        // main saw ONLY l1 pre-publish; surface that invariant in the
        // result by failing the row count if isolation broke
        if (tbl.read().count() == mainBefore)
          throw new IllegalStateException("publish did not advance main")
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)""".stripMargin)),

    // DELETE FROM ... WHERE in both modes: copy-on-write first (restages
    // only the files with matching rows), then a second predicate delete
    // in merge-on-read mode (ONE positional delete vector, no rewrite);
    // the returned read goes through the delete-vector anti-join
    "w17_delete_where" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        w.deleteWhere("main", "orders_t", col("o_orderkey") % 7 === 0, cfg, "d1")
        w.deleteWhere("main", "orders_t", col("o_totalprice") > 300000.0,
          cfg.copy(mergeOnRead = true), "d2")
        keyPrice(cat.loadTable("main", "orders_t").read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |WHERE o_orderkey % 7 <> 0 AND o_totalprice <= 300000.0""".stripMargin)),

    // UPDATE ... SET ... WHERE in both modes: copy-on-write applies the
    // SET in place on the matching files only; the merge-on-read pass
    // commits the updated rows as a new file plus a positional vector
    // over their old positions — the read stacks vector + append
    "w18_update_where" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        w.updateWhere("main", "orders_t", col("o_orderkey") % 7 === 0,
          Map("o_totalprice" -> (col("o_totalprice") + 5.0)), cfg, "u1")
        w.updateWhere("main", "orders_t", col("o_orderkey") % 11 === 0,
          Map("o_orderpriority" -> lit("0-URGENT")),
          cfg.copy(mergeOnRead = true), "u2")
        cat.loadTable("main", "orders_t").read()
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      },
      s"""SELECT o_orderkey,
         |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5.0
         |       ELSE o_totalprice END AS o_totalprice,
         |  CASE WHEN o_orderkey % 11 = 0 THEN '0-URGENT'
         |       ELSE o_orderpriority END AS o_orderpriority
         |FROM ($targetSql)""".stripMargin)),

    // Table services (Iceberg expire_snapshots + remove_orphan_files):
    // 4 loads -> tag the first -> expire keepLast=2 -> plant an orphan
    // file -> vacuum. Invariants enforced in-query via require():
    // expiry keeps {last 2} + the tag chain and nothing else, vacuum
    // collects exactly the orphan, and BOTH the tag head and the current
    // snapshot still read correctly afterwards (if expiry dropped a live
    // file or vacuum over-deleted, these reads diverge from the oracle).
    "w23_expire_vacuum" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        def slice(i: Int) = t(s, dir, "orders")
          .filter(col("o_orderkey") % 4 === i)
          .select(col("o_orderkey"), col("o_totalprice"))
        val cfg0 = WriteConfig(retryUnitMs = 10)
        w.writeTable("main", "orders_t", Seq(slice(1)), Append, cfg0, "l1")
        val tbl = cat.loadTable("main", "orders_t")
        tbl.createBranch("v1") // tag at load 1
        (Seq(2, 3, 0)).zipWithIndex.foreach { case (i, n) =>
          w.writeTable("main", "orders_t", Seq(slice(i)), Append, cfg0, s"l${n + 2}")
        }
        graft.write.Maintenance.expireSnapshots(tbl, keepLast = 2,
          retryUnitMs = 10)
        val m = tbl.metadata
        require(m.snapshots.length == 3,
          s"expected last-2 + tagged snapshot, got ${m.snapshots.length}")
        // plant an orphan data file, then vacuum with no age guard
        val orphan = tbl.dataDir.resolve("orphan-plant")
        slice(0).limit(5).write.parquet(orphan.toString)
        val removed = graft.write.Maintenance.vacuumOrphans(tbl, minAgeMs = 0)
        require(removed.exists(_.contains("orphan-plant")),
          s"vacuum missed the planted orphan: $removed")
        tbl.readBranch("v1").withColumn("src", lit("tag"))
          .unionByName(tbl.read().withColumn("src", lit("cur")))
          .select(col("o_orderkey"), col("o_totalprice"), col("src"))
      },
      """SELECT o_orderkey, o_totalprice, 'tag' AS src FROM orders
        |WHERE o_orderkey % 4 = 1
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'cur' AS src FROM orders""".stripMargin)),

    // C8/C9 nested variant of w6: schema evolution recursing into a
    // struct column — load 2 adds meta.pr AND promotes meta.ck
    // int->long; old files read back under the evolved nested schema
    // (ck widened, pr null-filled). Flattened for the oracle.
    "w22_struct_evolution" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t",
          Seq(target(s, dir).select(col("o_orderkey"),
            struct(col("o_custkey").cast("int").as("ck"),
              col("o_orderstatus").as("st")).as("meta"))),
          Append, WriteConfig(retryUnitMs = 10), "l1")
        w.writeTable("main", "orders_t",
          Seq(source(s, dir).select(col("o_orderkey"),
            struct(col("o_custkey").cast("long").as("ck"),
              col("o_orderstatus").as("st"),
              col("o_orderpriority").as("pr")).as("meta"))),
          Append, WriteConfig(retryUnitMs = 10), "l2")
        cat.loadTable("main", "orders_t").read()
          .select(col("o_orderkey"), col("meta.ck").as("ck"),
            col("meta.st").as("st"), col("meta.pr").as("pr"))
      },
      s"""SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
         |  o_orderstatus AS st, CAST(NULL AS VARCHAR) AS pr
         |FROM ($targetSql)
         |UNION ALL
         |SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
         |  o_orderstatus AS st, o_orderpriority AS pr
         |FROM ($sourceSql)""".stripMargin)),

    // SQL MERGE INTO + UPDATE through the V2 catalog: the group-based
    // row-level protocol (GraftRowLevelOperation) — Spark plans the
    // merge join/update itself, the executor-side BatchWrite stages
    // parquet per task, and the commit swaps the SCANNED file set
    // through the snapshot CAS. Exercises all three MERGE actions.
    // GROUP granularity is the file: the range-selective UPDATE runs
    // against a range-clustered layout and the in-query require() pins
    // that files provably outside the DML range survive BY PATH (static
    // stat pruning + runtime `_file` group filtering, GroupScan).
    "w21_sql_merge" -> ((
      (s0: SparkSession, dir: String) => {
        // fresh CatalogManager per invocation: Spark caches catalog
        // instances by NAME, so re-registering the same name with a new
        // warehouse on a shared session silently serves the FIRST
        // warehouse (a bench double-run hit run-1 state and failed)
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-v2m-").toString
        s.conf.set("spark.sql.catalog.graft_mrg",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_mrg.warehouse", wh)
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t",
          Seq(target(s, dir).repartitionByRange(4, col("o_orderkey"))),
          Append, cfg, "l1")

        // selective UPDATE first, on the range-clustered layout: only
        // files whose [min,max] admits the range may be rewritten
        val before = cat.loadTable("main", "orders_t").metadata.currentFiles
        val outside = before.filter(f =>
          f.stats.get("o_orderkey").exists(st =>
            st.max.exists(_.toLong < 100) || st.min.exists(_.toLong > 200)))
          .map(_.path).toSet
        require(outside.nonEmpty,
          "range-clustered load must yield files outside [100,200]")
        s.sql("""UPDATE graft_mrg.main.orders_t
          |SET o_totalprice = o_totalprice + 5.0
          |WHERE o_orderkey BETWEEN 100 AND 200""".stripMargin)
        val afterUpd = cat.loadTable("main", "orders_t")
          .metadata.currentFiles.map(_.path).toSet
        require(outside.subsetOf(afterUpd),
          "files provably outside the UPDATE range must survive by path")

        source(s, dir).createOrReplaceTempView("w21_src")
        s.sql("""MERGE INTO graft_mrg.main.orders_t AS t
          |USING w21_src AS s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_totalprice > 400000.0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql("""UPDATE graft_mrg.main.orders_t
          |SET o_totalprice = o_totalprice + 1.0
          |WHERE o_orderkey % 10 = 3""".stripMargin)
        s.sql("SELECT o_orderkey, o_totalprice FROM graft_mrg.main.orders_t")
      },
      s"""WITH merged AS (
         |  SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
         |  FROM orders WHERE o_orderkey % 2 = 0
         |    AND NOT (o_totalprice + 10.0 > 400000.0 AND o_orderkey % 3 <> 0)
         |  UNION ALL
         |  -- target-only rows carry the pre-merge range UPDATE (+5.0 on
         |  -- [100,200]); matched rows were overwritten by the merge
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey BETWEEN 100 AND 200
         |         THEN o_totalprice + 5.0 ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0
         |)
         |SELECT o_orderkey,
         |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1.0
         |       ELSE o_totalprice END AS o_totalprice
         |FROM merged""".stripMargin)),

    // Merge-on-read SQL MERGE INTO (the delta row-level protocol,
    // SupportsDelta): graft.primary-key + graft.delete.mode properties
    // route the DML through equality-delete key files + new data files —
    // O(delta) commits, parent files untouched; the in-query require()
    // pins that no parent file was rewritten.
    "w24_sql_mor_merge" -> ((
      (s0: SparkSession, dir: String) => {
        // fresh CatalogManager per invocation: Spark caches catalog
        // instances by NAME, so re-registering the same name with a new
        // warehouse on a shared session silently serves the FIRST
        // warehouse (a bench double-run hit run-1 state and failed)
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-v2dm-").toString
        s.conf.set("spark.sql.catalog.graft_dmr",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_dmr.warehouse", wh)
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, cfg, "l1")
        s.sql("""ALTER TABLE graft_dmr.main.orders_t SET TBLPROPERTIES (
          |'graft.delete.mode' = 'merge-on-read',
          |'graft.primary-key' = 'o_orderkey')""".stripMargin)
        val before = cat.loadTable("main", "orders_t")
          .metadata.currentFiles.map(_.path).toSet
        source(s, dir).createOrReplaceTempView("w24_src")
        s.sql("""MERGE INTO graft_dmr.main.orders_t AS t
          |USING w24_src AS s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_totalprice > 400000.0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val m = cat.loadTable("main", "orders_t").metadata
        require(before.subsetOf(m.currentFiles.map(_.path).toSet),
          "delta MERGE must not rewrite parent files")
        require(m.currentSnapshot.get.deletes.nonEmpty,
          "delta MERGE must commit equality-delete files")
        s.sql("SELECT o_orderkey, o_totalprice FROM graft_dmr.main.orders_t")
      },
      s"""SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
         |FROM orders WHERE o_orderkey % 2 = 0
         |  AND NOT (o_totalprice + 10.0 > 400000.0 AND o_orderkey % 3 <> 0)
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM orders
         |WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0""".stripMargin)),

    // Partition-spec evolution: first load partitions by status, then
    // the spec evolves to bucket[8](o_orderkey) and a second load stages
    // under it; the range scan prunes across BOTH vintages (new files by
    // their bucket/key stats, old files conservatively kept)
    "w19_partition_evolution" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append,
          cfg.copy(partitions =
            Seq(graft.partition.PartitionHint.identity("o_orderstatus"))), "l1")
        val tbl = cat.loadTable("main", "orders_t")
        tbl.updatePartitionSpec(
          Seq(graft.partition.PartitionHint.bucket(8, "o_orderkey")))
        w.writeTable("main", "orders_t", Seq(source(s, dir)), Append, cfg, "l2")
        tbl.scanRange("o_orderkey", 1000L, 3000L)
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      s"""SELECT o_orderkey, o_totalprice FROM (
         |  SELECT * FROM ($targetSql) UNION ALL SELECT * FROM ($sourceSql))
         |WHERE o_orderkey BETWEEN 1000 AND 3000""".stripMargin)),

    // Changelog scan (CDC): the row-level changes a MoR upsert window
    // produces — inserts = the staged batch (window-end deletes
    // applied), deletes = the equality-delete keys as partial rows (the
    // Iceberg changelog shape)
    "w20_changelog" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        val morCfg = cfg.copy(mergeOnRead = true)
        w.writeTable("main", "orders_t", Seq(target(s, dir)),
          Merge("upsert"), morCfg, "l1")
        val tbl = cat.loadTable("main", "orders_t")
        val s1 = tbl.metadata.currentSnapshotId.get
        w.writeTable("main", "orders_t", Seq(source(s, dir)),
          Merge("upsert"), morCfg, "l2")
        val s2 = tbl.metadata.currentSnapshotId.get
        tbl.changesBetween(s1, s2)
          .select(col("o_orderkey"), col("o_totalprice"), col("_change_type"))
      },
      s"""SELECT o_orderkey, o_totalprice, 'insert' AS _change_type
         |FROM ($sourceSql)
         |UNION ALL
         |SELECT DISTINCT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice,
         |  'delete' AS _change_type
         |FROM ($sourceSql)
         |WHERE o_orderkey IN (SELECT o_orderkey FROM ($targetSql))""".stripMargin)),

    // S2: stats-pruned range scan — file-level pruning by snapshot
    // min/max + parquet pushdown, equals the plain relational filter
    "w10_pruned_scan" -> ((
      (s: SparkSession, dir: String) => {
        val w = new GraftWriter(scratch(s))
        // clustered merge-table write => narrow per-file key ranges
        val tbl = w.writeTable("main", "orders_t", Seq(target(s, dir)),
          Merge("delete-insert"), cfg, "l1")
        tbl.scanRange("o_orderkey", 1000L, 3000L)
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |WHERE o_orderkey BETWEEN 1000 AND 3000""".stripMargin)),

    // source-format breadth (S1 beyond parquet): the same slice written
    // to and read back from CSV, JSON, and ORC, aggregated per format —
    // every format must reproduce the same relational content
    "w11_source_formats" -> ((
      (s: SparkSession, dir: String) => {
        val slice = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val base = Files.createTempDirectory("graft-fmt-")
        slice.write.option("header", "true").csv(s"$base/csv")
        slice.write.json(s"$base/json")
        slice.write.orc(s"$base/orc")
        val schema = slice.schema
        val fromCsv = s.read.option("header", "true").schema(schema).csv(s"$base/csv")
        val fromJson = s.read.schema(schema).json(s"$base/json")
        val fromOrc = s.read.schema(schema).orc(s"$base/orc")
        // DECIMAL sum: a double SUM over millions of rows accumulates
        // order-dependent FP error that crosses the 2dp rounding boundary
        // at sf1 magnitudes (~1e11) — exact decimals are engine- and
        // order-independent (the q49 pattern)
        Seq(("csv", fromCsv), ("json", fromJson), ("orc", fromOrc))
          .map { case (fmt, df) =>
            df.groupBy(col("o_orderstatus"))
              .agg(count(lit(1)).as("n"),
                sum(col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").as("revenue"))
              .withColumn("fmt", lit(fmt))
          }.reduce(_ unionByName _)
          .select(col("fmt"), col("o_orderstatus"), col("n"), col("revenue"))
      },
      """SELECT fmt, o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |CROSS JOIN (SELECT unnest(['csv', 'json', 'orc']) AS fmt)
        |GROUP BY fmt, o_orderstatus""".stripMargin)),

    // pipeline load ledger: two completed loads -> two status-0 rows
    "w8_load_ledger" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val p = new GraftPipeline(cat, "main", "s1", "pipe")
        p.stage("orders_t", target(s, dir), Append, cfg)
        p.completeLoad("load-1")
        p.stage("orders_t", source(s, dir), Append, cfg)
        p.completeLoad("load-2")
        p.loads().select(col("load_id"), col("schema_name"), col("status"))
      },
      """SELECT 'load-1' AS load_id, 's1' AS schema_name, CAST(0 AS BIGINT) AS status
        |UNION ALL
        |SELECT 'load-2' AS load_id, 's1' AS schema_name, CAST(0 AS BIGINT) AS status""".stripMargin)),

    // Storage-partitioned join: orders and customer co-bucketed on the
    // customer key join + aggregate with ZERO shuffles on either side —
    // the scan reports KeyGroupedPartitioning (GraftScan) and Spark plans
    // the sort-merge join on the layout the writer already paid for. At
    // 100 TB this deletes the dominant cost of a recurring fact-fact
    // join. The in-query require PINS shuffle-freedom: a planner or
    // layout regression fails the entry rather than silently shuffling.
    "w25_spj_join" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-spjq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        val bcfg = WriteConfig(retryUnitMs = 10, partitions =
          Seq(graft.partition.PartitionHint.bucket(8, "custkey")))
        w.writeTable("main", "orders_b",
          Seq(t(s, dir, "orders").select(
            col("o_custkey").as("custkey"), col("o_orderkey"),
            col("o_totalprice"))), Append, bcfg, "l1")
        w.writeTable("main", "customer_b",
          Seq(t(s, dir, "customer").select(
            col("c_custkey").as("custkey"), col("c_name"),
            col("c_mktsegment"))), Append, bcfg, "l2")
        // session-isolated SPJ opt-in (v2 bucketing is session-global;
        // the shared Verify session must not see it)
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_spj",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_spj.warehouse", wh)
        iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = iso.sql("""SELECT c.custkey, c.c_mktsegment,
          |  COUNT(*) AS n_orders,
          |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
          |FROM graft_spj.main.orders_b o
          |JOIN graft_spj.main.customer_b c ON o.custkey = c.custkey
          |GROUP BY c.custkey, c.c_mktsegment""".stripMargin)
        val nShuffles = graft.plans.PlanOps.shuffles(df)
        require(nShuffles == 0,
          s"storage-partitioned join must be shuffle-free, got $nShuffles")
        df
      },
      """SELECT c.c_custkey AS custkey, c.c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_mktsegment""".stripMargin)),

    // Dynamic partition pruning through the catalog scan: customer
    // identity-partitioned on nation, nation dim filtered to one region —
    // the runtime IN filter from the dim broadcast reaches the fact scan
    // (GraftScan.SupportsRuntimeV2Filtering) and only the matching nations'
    // value-exact files are ever opened. The in-query require PINS both
    // the filter injection and the actual row-level pruning: the scan
    // must emit exactly the surviving region's rows, strictly fewer than
    // the table holds. At 100 TB this is what keeps a dim-filtered fact
    // join from scanning every partition.
    "w26_dpp_prune" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-dppq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        w.writeTable("main", "customer_p",
          Seq(t(s, dir, "customer").select(col("c_custkey"),
            col("c_nationkey"), col("c_acctbal"))),
          Append, WriteConfig(retryUnitMs = 10, partitions =
            Seq(graft.partition.PartitionHint.identity("c_nationkey"))), "l1")
        w.writeTable("main", "nation_t",
          Seq(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
            col("n_regionkey"))), Append, WriteConfig(retryUnitMs = 10), "l2")
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_dpp",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_dpp.warehouse", wh)
        iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        // static plan so the scan node's metrics are directly collectible
        iso.conf.set("spark.sql.adaptive.enabled", "false")
        val df = iso.sql("""SELECT n.n_name,
          |  COUNT(*) AS n_cust,
          |  CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
          |    AS acctbal
          |FROM graft_dpp.main.customer_p c
          |JOIN graft_dpp.main.nation_t n ON c.c_nationkey = n.n_nationkey
          |WHERE n.n_regionkey = 2
          |GROUP BY n.n_name""".stripMargin)
        val expected = df.collect().map(_.getLong(1)).sum
        val total = t(s, dir, "customer").count()
        val factScans = df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
              if b.scan.description().startsWith("graft-spj") => b
        }
        require(factScans.nonEmpty, "customer scan must be SPJ-wrapped")
        require(factScans.head.runtimeFilters.nonEmpty,
          "DPP must inject a runtime filter into the partitioned scan")
        val scanned = factScans.head.metrics("numOutputRows").value
        require(scanned == expected && scanned < total,
          s"runtime pruning must open only the filtered region's " +
            s"partitions: scanned $scanned, expected $expected of $total")
        df
      },
      """SELECT n.n_name,
        |  COUNT(*) AS n_cust,
        |  CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS acctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE n.n_regionkey = 2
        |GROUP BY n.n_name""".stripMargin)),

    // SQL stored procedures (Spark 4 ProcedureCatalog): the maintenance
    // lifecycle — compact small files, expire history, vacuum the
    // now-orphaned originals — driven entirely through CALL statements,
    // with named-argument binding exercised on expire_snapshots. Each
    // step's result row is require-checked and the final read proves the
    // whole chain was content-neutral.
    "w27_sql_call" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-callq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        (0 until 4).foreach { i =>
          w.writeTable("main", "orders_t",
            Seq(t(s, dir, "orders").filter(col("o_orderkey") % 4 === i)
              .select(col("o_orderkey"), col("o_orderstatus"),
                col("o_totalprice"))),
            Append, WriteConfig(retryUnitMs = 10), s"l$i")
        }
        val before = cat.loadTable("main", "orders_t").metadata.currentFiles.size
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_call",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_call.warehouse", wh)
        val c = iso.sql("CALL graft_call.system.compact('main.orders_t')")
          .collect()
        require(c.length == 1 && c(0).getBoolean(0),
          "CALL compact should bin-pack the 4 small load files")
        val e = iso.sql("""CALL graft_call.system.expire_snapshots(
          |table => 'main.orders_t', keep_last => 1)""".stripMargin).collect()
        require(e(0).getInt(0) >= 1, "CALL expire_snapshots should drop history")
        val v = iso.sql(
          "CALL graft_call.system.vacuum_orphans('main.orders_t', 0)").collect()
        require(v(0).getInt(0) >= 1,
          "CALL vacuum_orphans should delete the pre-compaction files")
        val after = cat.loadTable("main", "orders_t").metadata.currentFiles.size
        require(after < before,
          s"maintenance chain should shrink the file count ($before -> $after)")
        iso.sql("""SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
          |    AS revenue
          |FROM graft_call.main.orders_t
          |GROUP BY o_orderstatus""".stripMargin)
      },
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS revenue
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // Atomic CTAS / RTAS (StagingTableCatalog): the SELECT's output is
    // staged invisibly under the table location (data files without a
    // referencing snapshot are dead bytes) and published by ONE metadata
    // CAS — a concurrent reader sees either no table or the complete one,
    // and a mid-write failure leaves nothing. REPLACE TABLE swaps the
    // definition wholesale in one snapshot commit that PRESERVES history:
    // time travel to the pre-replace snapshot still resolves under the
    // old schema. The in-query requires pin single-snapshot publish,
    // value-exact partitioned staging, and surviving lineage.
    "w28_ctas" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-ctasq-").toString
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_ctas",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_ctas.warehouse", wh)
        t(iso, dir, "orders").createOrReplaceTempView("orders_src")
        iso.sql("""CREATE TABLE graft_ctas.main.ord
          |PARTITIONED BY (o_orderstatus)
          |AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM orders_src""".stripMargin)
        val cat = new GraftCatalog(s, wh)
        val m = cat.loadTable("main", "ord").metadata
        require(m.snapshots.size == 1,
          s"CTAS must publish exactly one snapshot, got ${m.snapshots.size}")
        require(m.currentFiles.forall(f =>
          f.stats.get("o_orderstatus").exists(st => st.min == st.max)),
          "partitioned CTAS staging must be value-exact (SPJ-eligible)")
        iso.sql("""REPLACE TABLE graft_ctas.main.ord AS
          |SELECT o_orderstatus, o_orderkey % 5 AS bucket5,
          |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
          |FROM orders_src""".stripMargin)
        val m2 = cat.loadTable("main", "ord").metadata
        require(m2.snapshots.size == 2 &&
          m2.schema.fieldNames.sameElements(
            Array("o_orderstatus", "bucket5", "price")),
          "RTAS must replace the definition in one commit, keeping history")
        val oldRows = iso.sql("SELECT * FROM graft_ctas.main.ord VERSION AS OF " +
          m2.snapshots.head.snapshotId)
        require(oldRows.schema.fieldNames.head == "o_orderkey",
          "pre-replace snapshot must keep its snapshot-time schema")
        iso.sql("""SELECT o_orderstatus, bucket5, COUNT(*) AS n,
          |  CAST(SUM(price) AS DOUBLE) AS revenue
          |FROM graft_ctas.main.ord
          |GROUP BY o_orderstatus, bucket5""".stripMargin)
      },
      """SELECT o_orderstatus, o_orderkey % 5 AS bucket5, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderstatus, o_orderkey % 5""".stripMargin)),

    // Persisted SQL views (V2 ViewCatalog + GraftSqlExtensions): CREATE
    // VIEW writes a durable definition into the warehouse, a second view
    // stacks on the first (nested expansion with the saved resolution
    // context), and the final SELECT reads through both. The reference's
    // views are per-connection DuckDB state (sql_client.py:101-149);
    // here they are catalog objects any later session resolves. The
    // in-query requires pin durability (a FRESH session sees the view)
    // and that the definition is late-binding (new loads show up).
    "w29_sql_view" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-viewq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t",
          Seq(t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))),
          Append, WriteConfig(retryUnitMs = 10), "l1")
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_vw",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_vw.warehouse", wh)
        iso.sql("CREATE VIEW graft_vw.main.priced AS " +
          "SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price " +
          "FROM graft_vw.main.orders_t")
        iso.sql("CREATE VIEW graft_vw.main.by_status AS " +
          "SELECT o_orderstatus, COUNT(*) AS n, " +
          "CAST(SUM(price) AS DOUBLE) AS revenue " +
          "FROM graft_vw.main.priced GROUP BY o_orderstatus")
        // late binding: a load AFTER create must appear through the view
        w.writeTable("main", "orders_t",
          Seq(t(s, dir, "orders").filter(col("o_orderkey") % 2 =!= 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))),
          Append, WriteConfig(retryUnitMs = 10), "l2")
        // durability: a SECOND fresh session resolves the stored views
        val reader = s.newSession()
        reader.conf.set("spark.sql.catalog.graft_vw",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        reader.conf.set("spark.sql.catalog.graft_vw.warehouse", wh)
        require(reader.sql("SHOW VIEWS IN graft_vw.main").collect()
          .map(_.getString(1)).toSet == Set("priced", "by_status"),
          "stored views must list from a fresh session")
        val df = reader.sql("SELECT * FROM graft_vw.main.by_status")
        require(df.collect().map(_.getLong(1)).sum ==
          t(s, dir, "orders").count(),
          "late-binding view must see both loads")
        df
      },
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // Column statistics for cost-based optimization: CALL system.analyze
    // computes per-column HLL NDVs in ONE distributed pass and persists
    // them snapshot-stamped; a CBO session's scans then report
    // columnStats (NDV from analyze, null counts and numeric min/max
    // footer-exact over the CURRENT file set) so catalyst costs joins by
    // estimated cardinality instead of raw bytes. At 100 TB that is the
    // difference between a join order chosen from real NDVs and one
    // guessed from file sizes. The in-query requires pin that the stats
    // actually reach catalyst (rowCount + join-key NDV in the optimized
    // plan) and that a default session reports none.
    "w30_cbo_stats" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-cboq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_t",
          Seq(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"))),
          Append, WriteConfig(retryUnitMs = 10), "l1")
        w.writeTable("main", "customer_t",
          Seq(t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
            col("c_mktsegment"))), Append, WriteConfig(retryUnitMs = 10), "l2")
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_cbo",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_cbo.warehouse", wh)
        val a1 = iso.sql("CALL graft_cbo.system.analyze('main.orders_t')")
          .collect()
        require(a1(0).getLong(0) == t(s, dir, "orders").count(),
          "analyze must count every row in one pass")
        iso.sql("CALL graft_cbo.system.analyze('main.customer_t')").collect()
        iso.conf.set("spark.sql.cbo.enabled", "true")
        iso.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        val df = iso.sql("""SELECT c.c_mktsegment, COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
          |    AS DOUBLE) AS revenue
          |FROM graft_cbo.main.orders_t o
          |JOIN graft_cbo.main.customer_t c ON o.o_custkey = c.c_custkey
          |GROUP BY c.c_mktsegment""".stripMargin)
        val stats = iso.sql("SELECT * FROM graft_cbo.main.customer_t")
          .queryExecution.optimizedPlan.stats
        require(stats.rowCount.isDefined,
          "CBO scan must report the engine's exact row count")
        val keyNdv = stats.attributeStats.collectFirst {
          case (a, st) if a.name == "c_custkey" => st.distinctCount
        }.flatten
        require(keyNdv.isDefined && keyNdv.get > 0,
          "join-key NDV from analyze must reach catalyst attribute stats")
        val plain = s.newSession()
        plain.conf.set("spark.sql.catalog.graft_cbo",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        plain.conf.set("spark.sql.catalog.graft_cbo.warehouse", wh)
        require(plain.sql("SELECT * FROM graft_cbo.main.customer_t")
          .queryExecution.optimizedPlan.stats.attributeStats.isEmpty,
          "a default (CBO-off) session must see no column stats")
        df
      },
      """SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment""".stripMargin)),

    // Filter overwrite (OVERWRITE_BY_FILTER): INSERT INTO ... REPLACE
    // WHERE swaps exactly the matching rows for the new batch in ONE
    // snapshot, restaging only the files that held matches — the 100 TB
    // payoff is a partition- or range-scoped reload that rewrites one
    // slice, never the table. The in-query require pins the surgical
    // rewrite: files provably outside the predicate survive by path.
    "w31_replace_where" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-owq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        // key-range-clustered staging, >=4 files at EVERY sf, so the
        // range predicate provably isolates a file subset
        val nTarget = target(s, dir).count()
        w.writeTable("main", "orders_t",
          Seq(target(s, dir)), Append,
          WriteConfig(primaryKey = Seq("o_orderkey"), retryUnitMs = 10,
            maxRecordsPerFile = math.max(1L, nTarget / 4)), "l1")
        val before = cat.loadTable("main", "orders_t").metadata.currentFiles
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_ow",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_ow.warehouse", wh)
        t(iso, dir, "orders").createOrReplaceTempView("orders_src_ow")
        // replace the upper key half with the uplifted full slice; the
        // key-range-clustered staging means the lower half's files hold
        // no matching row
        val half = t(s, dir, "orders")
          .agg(max(col("o_orderkey"))).collect()(0).getLong(0) / 2
        iso.sql(s"""INSERT INTO graft_ow.main.orders_t
          |REPLACE WHERE o_orderkey > $half
          |SELECT o_orderkey, o_custkey, o_orderstatus,
          |  o_totalprice + 10.0 AS o_totalprice, o_orderpriority
          |FROM orders_src_ow WHERE o_orderkey > $half""".stripMargin)
        val after = cat.loadTable("main", "orders_t").metadata
        val afterPaths = after.currentFiles.map(_.path).toSet
        val lowOnly = before.filter(f => f.stats.get("o_orderkey")
          .exists(_.max.exists(_.toLong <= half)))
        require(lowOnly.nonEmpty &&
          lowOnly.forall(f => afterPaths.contains(f.path)),
          s"REPLACE WHERE must not restage files outside the predicate " +
            s"(${lowOnly.size} low-range files of ${before.size})")
        require(after.snapshots.count(_.operation == "overwrite") == 1,
          "filter overwrite must commit exactly one snapshot")
        iso.sql("""SELECT o_orderkey, o_orderstatus,
          |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
          |FROM graft_ow.main.orders_t""".stripMargin)
      },
      s"""WITH half AS (
         |  SELECT MAX(o_orderkey) // 2 AS h FROM orders
         |)
         |SELECT o_orderkey, o_orderstatus,
         |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
         |FROM (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice
         |  FROM ($targetSql) WHERE o_orderkey <= (SELECT h FROM half)
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0
         |  FROM orders WHERE o_orderkey > (SELECT h FROM half)
         |)""".stripMargin)),

    // Dynamic partition overwrite (partitionOverwriteMode=dynamic): the
    // batch carries only status-'F' rows, so ONLY the 'F' partition is
    // replaced — the recurring-backfill shape; the removal set is a
    // metadata comparison on the value-exact layout (no data read to
    // decide what goes). The in-query require pins path survival of the
    // partitions absent from the batch.
    "w32_dynamic_overwrite" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-dynq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        w.writeTable("main", "orders_p",
          Seq(target(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))),
          Append, WriteConfig(retryUnitMs = 10, partitions =
            Seq(graft.partition.PartitionHint.identity("o_orderstatus"))), "l1")
        val before = cat.loadTable("main", "orders_p").metadata.currentFiles
        val others = before.filter(f =>
          f.stats.get("o_orderstatus").exists(_.min.exists(_ != "F")))
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_dyn",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_dyn.warehouse", wh)
        iso.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        t(iso, dir, "orders").createOrReplaceTempView("orders_src_dyn")
        iso.sql("""INSERT OVERWRITE graft_dyn.main.orders_p
          |SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice
          |FROM orders_src_dyn WHERE o_orderstatus = 'F'""".stripMargin)
        val after = cat.loadTable("main", "orders_p").metadata
        val afterPaths = after.currentFiles.map(_.path).toSet
        require(others.nonEmpty && others.forall(f => afterPaths.contains(f.path)),
          "partitions absent from the batch must survive by path")
        require(after.snapshots.size == 2,
          "dynamic overwrite must be ONE snapshot")
        iso.sql("""SELECT o_orderkey, o_orderstatus,
          |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
          |FROM graft_dyn.main.orders_p""".stripMargin)
      },
      s"""SELECT o_orderkey, o_orderstatus,
         |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
         |FROM (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice
         |  FROM ($targetSql) WHERE o_orderstatus <> 'F'
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0
         |  FROM orders WHERE o_orderstatus = 'F'
         |)""".stripMargin)),

    // Merge-on-read SPJ: orders co-bucketed with customer, then MoR-
    // upserted (outstanding equality-delete file) — the scan KEEPS its
    // KeyGroupedPartitioning report and applies the deletes per row
    // inside the wrapped reader (MorSpjReader), so the join stays
    // shuffle-free. This is the merge-heavy-pipeline shape: without it,
    // the first trickle merge after compaction silently reshuffles every
    // downstream co-bucketed join until the next maintenance run. The
    // in-query requires pin (a) an outstanding delete actually exists,
    // (b) the MoR wrap served the scan, (c) zero shuffles.
    "w33_mor_spj_join" -> ((
      (s: SparkSession, dir: String) => {
        val wh = Files.createTempDirectory("graft-morspjq-").toString
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        val bcfg = WriteConfig(retryUnitMs = 10,
          primaryKey = Seq("o_orderkey"), mergeOnRead = true,
          partitions = Seq(graft.partition.PartitionHint.bucket(8, "custkey")))
        val ordersB = t(s, dir, "orders").select(
          col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_totalprice"))
        w.writeTable("main", "orders_b", Seq(ordersB), Append, bcfg, "l1")
        w.writeTable("main", "customer_b",
          Seq(t(s, dir, "customer").select(
            col("c_custkey").as("custkey"), col("c_mktsegment"))),
          Append, WriteConfig(retryUnitMs = 10, partitions =
            Seq(graft.partition.PartitionHint.bucket(8, "custkey"))), "l2")
        // trickle MoR upsert: every 1000th order's price bumped by 1000
        w.writeTable("main", "orders_b",
          Seq(ordersB.filter(col("o_orderkey") % 1000 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1000.0d)),
          Merge("upsert"), bcfg, "l3")
        require(cat.loadTable("main", "orders_b").metadata.currentSnapshot
          .exists(_.deletes.nonEmpty),
          "MoR upsert must leave an outstanding equality-delete file")
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_morspj",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_morspj.warehouse", wh)
        iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = iso.sql("""SELECT c.custkey, c.c_mktsegment,
          |  COUNT(*) AS n_orders,
          |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
          |    AS DOUBLE) AS revenue
          |FROM graft_morspj.main.orders_b o
          |JOIN graft_morspj.main.customer_b c ON o.custkey = c.custkey
          |GROUP BY c.custkey, c.c_mktsegment""".stripMargin)
        require(graft.plans.PlanOps.scanDescriptions(df)
          .exists(_.startsWith("graft-spj-mor")),
          "the merged table's scan must keep the SPJ report (MoR wrap)")
        val nShuffles = graft.plans.PlanOps.shuffles(df)
        require(nShuffles == 0,
          s"merge-on-read SPJ join must be shuffle-free, got $nShuffles")
        df
      },
      """SELECT c.c_custkey AS custkey, c.c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(CASE WHEN o.o_orderkey % 1000 = 0
        |    THEN o.o_totalprice + 1000 ELSE o.o_totalprice END
        |    AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_mktsegment""".stripMargin)),

    // Native TIME (Spark 4.1 TimeType, behind spark.sql.timeType.enabled):
    // the reference's last type-lattice row (Arrow time → Iceberg micros
    // TIME, schema_converter.py:134-135). The entry derives a TIME column,
    // commits it through the engine write path (TypeLattice normalization
    // + micros-of-day footer stats), reads it back from storage, and
    // aggregates — the oracle recomputes the same TIME values in DuckDB.
    "w34_time_type" -> ((
      (s: SparkSession, dir: String) => {
        val iso = s.newSession()
        iso.conf.set("spark.sql.timeType.enabled", "true")
        // TIME support is read from the THREAD-ACTIVE session's conf at
        // analysis time; engine-internal DataFrame ops (writeTable's
        // cast/stats passes) are not wrapped in iso.sql, so pin iso
        // active for the entry's duration
        val prevActive = SparkSession.getActiveSession
        SparkSession.setActiveSession(iso)
        try {
          val wh = Files.createTempDirectory("graft-timeq-").toString
          val cat = new GraftCatalog(iso, wh)
          val w = new GraftWriter(cat)
          t(iso, dir, "orders").createOrReplaceTempView("orders_time_src")
          val src = iso.sql("""SELECT o_orderkey, o_orderstatus,
            |  make_time(CAST(o_orderkey % 24 AS INT),
            |    CAST(o_orderkey % 60 AS INT),
            |    CAST(o_orderkey % 60 AS DOUBLE)) AS o_time
            |FROM orders_time_src""".stripMargin)
          w.writeTable("main", "orders_time", Seq(src), Append,
            WriteConfig(retryUnitMs = 10), "l1")
          val tt = cat.loadTable("main", "orders_time")
          require(tt.metadata.schema("o_time").dataType ==
            org.apache.spark.sql.types.TimeType(6),
            "TIME must commit as the native micros TimeType")
          require(tt.metadata.currentFiles.forall(_.stats.get("o_time")
            .exists(_.min.exists(m => m.toLong >= 0L &&
              m.toLong < 86400L * 1000000L))),
            "TIME footer stats must be micros-of-day")
          // materialize the aggregate under the pinned session; the
          // returned frame then carries no TIME column, so the driver's
          // generic result write needs no session pinning
          val out = tt.read()
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"),
              min(col("o_time")).cast("string").as("t_min"),
              max(col("o_time")).cast("string").as("t_max"))
            .select(col("o_orderstatus"), col("n"), col("t_min"), col("t_max"))
          val rows = out.collect()
          iso.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        } finally {
          prevActive.fold(SparkSession.clearActiveSession())(
            SparkSession.setActiveSession)
        }
      },
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(MIN(make_time(CAST(o_orderkey % 24 AS INT),
        |    CAST(o_orderkey % 60 AS INT),
        |    CAST(o_orderkey % 60 AS DOUBLE))) AS VARCHAR) AS t_min,
        |  CAST(MAX(make_time(CAST(o_orderkey % 24 AS INT),
        |    CAST(o_orderkey % 60 AS INT),
        |    CAST(o_orderkey % 60 AS DOUBLE))) AS VARCHAR) AS t_max
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // SQL catalog store (the reference's sqlite:// kind,
    // destination_client.py:679-734, served by embedded Derby): table
    // pointer lives in a transactional row, commits CAS the pointer —
    // the deployment shape for object storage without atomic create.
    // Two appends land as two snapshots through the pointer CAS; the
    // read resolves the pointer and scans the committed files.
    "w35_sql_store" -> ((
      (s: SparkSession, dir: String) => {
        val base = Files.createTempDirectory("graft-sqlq-")
        val store = graft.catalog.CatalogConfig(
          uri = s"sqlite://$base/catalog.db",
          warehouse = Some(s"$base/wh")).openSqlStore()
        val tdir = store.tableDir("main", "orders_t")
        val first = target(s, dir)
        store.createTable("main", "orders_t",
          graft.catalog.TableMetadata.create("main.orders_t",
            tdir.toString, first.schema, Nil, Map.empty))
        def append(df: DataFrame, loadId: String): Unit = {
          val staged = Stager.stage(df, tdir.resolve("data"), loadId)
          store.commit("main", "orders_t",
            _.withSnapshotDelta("append", Some(loadId), staged, Set.empty),
            unitMs = 10)
          ()
        }
        append(first, "l1")
        append(source(s, dir), "l2")
        val m = store.loadMetadata("main", "orders_t")
        require(m.snapshots.size == 2, "two pointer-CAS commits must land")
        keyPrice(s.read.schema(m.schema)
          .parquet(m.currentFiles.map(_.path): _*))
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)""".stripMargin)),

    // §3.3 state restore: a FRESH pipeline attaches to existing storage
    // (`get_stored_schema` → `_derive_schema_from_iceberg_tables`
    // fallback, destination_client.py:374-581; pinned by the reference's
    // tests/test_state_sync_e2e.py:15-137). Pipeline A writes a load,
    // stores its schema doc + pipeline state; a fresh pipeline B restores
    // BOTH from the metadata tables (the `_dlt_version` hit branch),
    // proves schema-hash dedup (re-storing the same doc is a no-op), and
    // continues with an evolved load whose new column null-fills the
    // sparse history. A third pipeline attaches to a namespace with data
    // tables but NO `_dlt_version` rows and exercises the derive branch.
    // The output mixes the restored data rows with metadata-table facts
    // (stored version, completed-load count, restored state, derive
    // sentinel) so the oracle checks the metadata tables too.
    "w36_state_restore" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val schemaV1 = """{"tables":{"orders_t":["o_orderkey","o_custkey"]}}"""
        val stateJson = """{"cursor":42}"""
        val a = new GraftPipeline(cat, "ns", "sch", "pipe")
        a.initializeStorage()
        require(a.storeSchema(schemaV1), "first store must insert v1")
        a.stage("orders_t", target(s, dir).drop("o_orderpriority"), Append, cfg)
        a.completeLoad("ld-a1")
        a.storeState(stateJson, "ld-a1")

        // fresh attach: stored-schema branch + state restore + hash dedup
        val b = new GraftPipeline(cat, "ns", "sch", "pipe")
        val restored = b.getStoredSchemaOrDerive
        require(restored.exists(_._2 == schemaV1),
          s"stored-schema branch must return v1, got $restored")
        require(b.getStoredState.exists(_.getAs[String]("state") == stateJson),
          "fresh pipeline must restore the stored state")
        require(!b.storeSchema(schemaV1),
          "re-storing an identical schema doc must dedup by hash")
        b.stage("orders_t", source(s, dir), Append, cfg) // evolves +o_orderpriority
        b.completeLoad("ld-b1")

        // derive branch: data tables exist, no _dlt_version row
        val w = new GraftWriter(cat)
        cat.createNamespace("ns2")
        w.writeTable("ns2", "raw_t", Seq(t(s, dir, "region")), Append,
          WriteConfig(retryUnitMs = 10), "x1")
        val derived = new GraftPipeline(cat, "ns2", "other")
          .getStoredSchemaOrDerive
        require(derived.exists(d => d._1 == "derived_from_iceberg" &&
          d._2.contains("\"raw_t\"")), s"derive branch must fire, got $derived")

        val storedVersion = b.getStoredSchema.get.getAs[Long]("version")
        val loadsDone = b.loads().filter(col("status") === 0L).count()
        val data = cat.loadTable("ns", "orders_t").read()
          .select(lit("data").as("phase"), col("o_orderkey"),
            col("o_custkey"), col("o_orderpriority"))
        val meta = s.range(1).select(lit("meta").as("phase"),
            lit(storedVersion).as("o_orderkey"), lit(loadsDone).as("o_custkey"),
            lit(stateJson).as("o_orderpriority"))
          .unionByName(s.range(1).select(lit("derived").as("phase"),
            lit(0L).as("o_orderkey"), lit(1L).as("o_custkey"),
            lit(derived.get._1).as("o_orderpriority")))
        data.unionByName(meta)
      },
      s"""SELECT 'data' AS phase, o_orderkey, o_custkey,
         |  CAST(NULL AS VARCHAR) AS o_orderpriority FROM ($targetSql)
         |UNION ALL
         |SELECT 'data', o_orderkey, o_custkey, o_orderpriority
         |FROM ($sourceSql)
         |UNION ALL
         |SELECT 'meta', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
         |  '{"cursor":42}'
         |UNION ALL
         |SELECT 'derived', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         |  'derived_from_iceberg'""".stripMargin)),

    // write-path self-maintenance: a MoR table opted into
    // graft.mor.auto-apply-deletes pays its own delete backlog down
    // inline — 12 trickle upserts against a 4-file threshold must leave
    // a bounded resting backlog, at least one apply-deletes snapshot,
    // and exactly the upsert end state (maintenance is content-neutral)
    "w37_auto_maintenance" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        val morCfg = cfg.copy(mergeOnRead = true)
        w.writeTable("main", "orders_t", Seq(target(s, dir)),
          Merge("upsert"), morCfg, "l0")
        cat.loadTable("main", "orders_t").commit(m => m.copy(properties =
          m.properties
            + (Maintenance.AutoApplyDeletesProp -> "true")
            + (Maintenance.MaxDeleteFilesProp -> "4")), unitMs = 1)
        // 12 disjoint slices of the (even-key) source = one delete file
        // per commit without maintenance
        (0 until 12).foreach { i =>
          w.writeTable("main", "orders_t",
            Seq(source(s, dir).filter(col("o_orderkey") % 24 === i * 2)),
            Merge("upsert"), morCfg, s"t$i")
        }
        val tbl = cat.loadTable("main", "orders_t")
        val backlog = Maintenance.deleteBacklog(tbl)
        require(backlog.deleteFileCount <= 4,
          s"auto-apply must bound the resting backlog: $backlog")
        require(tbl.metadata.snapshots.exists(_.operation == "apply-deletes"),
          "inline maintenance must have fired during the trickle")
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql) tgt
         |WHERE tgt.o_orderkey NOT IN (SELECT o_orderkey FROM ($sourceSql))
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)""".stripMargin)),

    // declared write sort-order (Iceberg write.sort-order parity): a
    // bulk append range-clusters + sorts on the declared column, so
    // min/max file pruning on it becomes partition-grade WITHOUT a
    // partition spec — the entry proves the pruning in-query (a 10%
    // price band must touch at most half the staged files) and returns
    // the pruned range scan for the oracle
    "w38_sort_order" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        val noPk = WriteConfig(retryUnitMs = 10)
        // empty seed commits the schema so the property can precede data
        w.writeTable("main", "orders_t", Seq(target(s, dir).limit(0)),
          Append, noPk, "l0")
        cat.loadTable("main", "orders_t").commit(m => m.copy(properties =
          m.properties
            + (GraftWriter.SortOrderProperty -> "o_totalprice")), unitMs = 1)
        // scale-proportional file bound: ~6 files at every sf, so the
        // disjointness claim is tested identically at sf0.001 and sf10
        val n = target(s, dir).count()
        w.writeTable("main", "orders_t", Seq(target(s, dir).repartition(8)),
          Append, noPk.copy(maxRecordsPerFile = math.max(1L, n / 6L)), "l1")
        val tbl = cat.loadTable("main", "orders_t")
        val files = tbl.metadata.currentFiles
        require(files.size >= 4, s"expected a multi-file load, got ${files.size}")
        val dt = tbl.metadata.schema("o_totalprice").dataType
        val ck = (v: Double) => graft.write.Stager.canonicalKey(dt, v)
        val hit = graft.catalog.StatsPrune.files(tbl.metadata,
          Seq(graft.catalog.StatsPrune.between("o_totalprice",
            ck(100000.0), ck(150000.0))))
        require(hit.size * 2 <= files.size,
          s"sort-order pruning: a 10% band must skip most files " +
            s"(hit ${hit.size} of ${files.size})")
        tbl.scanRange("o_totalprice", 100000.0, 150000.0)
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |WHERE o_totalprice BETWEEN 100000 AND 150000""".stripMargin)),

    // metadata-tier aggregate pushdown: a filter-free global
    // COUNT/COUNT(col)/MIN/MAX over the V2 catalog answers from snapshot
    // stats with ZERO file IO (the tier above parquet-footer pushdown —
    // at 10⁵ files the footers alone are 10⁵ reads). The entry pins the
    // graft-meta-agg scan in-plan, then the oracle pins the values
    "w39_agg_pushdown" -> ((
      (s0: SparkSession, dir: String) => {
        // fresh CatalogManager per invocation: Spark caches catalog
        // instances by NAME, so re-registering the same name with a new
        // warehouse on a shared session silently serves the FIRST
        // warehouse (a bench double-run hit run-1 state and failed)
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-magg-").toString
        s.conf.set("spark.sql.catalog.graft_magg",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_magg.warehouse", wh)
        val w = new GraftWriter(new GraftCatalog(s, wh))
        // two loads so the fold spans files from distinct snapshots
        w.writeTable("main", "orders_t",
          Seq(target(s, dir).filter(col("o_orderkey") % 2 === 1)), Append, cfg, "l1")
        w.writeTable("main", "orders_t",
          Seq(target(s, dir).filter(col("o_orderkey") % 2 === 0)), Append, cfg, "l2")
        val q = s.sql("""SELECT COUNT(*) AS n, COUNT(o_custkey) AS n_cust,
          |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
          |  CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
          |FROM graft_magg.main.orders_t""".stripMargin)
        val plan = q.queryExecution.executedPlan.toString
        require(plan.contains("graft-meta-agg"),
          s"global filter-free aggregate must answer from metadata:\n$plan")
        require(!plan.toLowerCase.contains("parquet"),
          s"metadata-tier aggregate must not touch a data file:\n$plan")
        q
      },
      s"""SELECT COUNT(*) AS n, COUNT(o_custkey) AS n_cust,
         |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
         |  CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
         |FROM ($targetSql)""".stripMargin)),

    // partition-level metadata aggregates (Iceberg's manifest answering,
    // grouped form): GROUP BY an identity-partition column folds
    // per-group COUNT/MIN/MAX from file stats — value-exact staging
    // (one partition tuple per file) makes every file's group key a
    // metadata fact, so the whole query is still zero file IO
    "w40_agg_pushdown_grouped" -> ((
      (s0: SparkSession, dir: String) => {
        // fresh CatalogManager per invocation: Spark caches catalog
        // instances by NAME, so re-registering the same name with a new
        // warehouse on a shared session silently serves the FIRST
        // warehouse (a bench double-run hit run-1 state and failed)
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-magg2-").toString
        s.conf.set("spark.sql.catalog.graft_magg2",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_magg2.warehouse", wh)
        val w = new GraftWriter(new GraftCatalog(s, wh))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append,
          cfg.copy(partitions =
            Seq(graft.partition.PartitionHint.identity("o_orderstatus"))), "l1")
        val q = s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
          |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
          |FROM graft_magg2.main.orders_t
          |GROUP BY o_orderstatus""".stripMargin)
        val plan = q.queryExecution.executedPlan.toString
        require(plan.contains("graft-meta-agg"),
          s"partition-grouped aggregate must answer from metadata:\n$plan")
        require(!plan.toLowerCase.contains("parquet"),
          s"metadata-tier aggregate must not touch a data file:\n$plan")
        q
      },
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         |FROM ($targetSql)
         |GROUP BY o_orderstatus""".stripMargin)),

    // TopN pushdown — the declared-sort-order payoff: ORDER BY the sort
    // key LIMIT k plans only the file prefix, in key order, covering k
    // rows past a strict range gap (every excluded row is then strictly
    // greater on the lead key, so the global top-k sits inside the
    // prefix regardless of tiebreak columns). The entry asserts the
    // prefix cut in-plan and returns the exact top-50
    "w41_topn_pushdown" -> ((
      (s0: SparkSession, dir: String) => {
        // fresh CatalogManager per invocation: Spark caches catalog
        // instances by NAME, so re-registering the same name with a new
        // warehouse on a shared session silently serves the FIRST
        // warehouse (a bench double-run hit run-1 state and failed)
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-topn-").toString
        s.conf.set("spark.sql.catalog.graft_topn",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_topn.warehouse", wh)
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        val noPk = WriteConfig(retryUnitMs = 10)
        w.writeTable("main", "orders_t", Seq(target(s, dir).limit(0)),
          Append, noPk, "l0")
        cat.loadTable("main", "orders_t").commit(m => m.copy(properties =
          m.properties
            + (GraftWriter.SortOrderProperty -> "o_totalprice")), unitMs = 1)
        val n = target(s, dir).count()
        w.writeTable("main", "orders_t", Seq(target(s, dir).repartition(8)),
          Append, noPk.copy(maxRecordsPerFile = math.max(1L, n / 6L)), "l1")
        val total = cat.loadTable("main", "orders_t").metadata
          .currentFiles.size
        val q = s.sql("""SELECT o_orderkey, o_totalprice
          |FROM graft_topn.main.orders_t
          |ORDER BY o_totalprice, o_orderkey LIMIT 50""".stripMargin)
        val planned = q.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan match {
              case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
                f.fileIndex.inputFiles.length
              case _ => -1
            }
        }.headOption.getOrElse(-1)
        require(planned > 0 && planned < total,
          s"TopN must plan a sort-key file prefix, planned $planned of $total")
        q
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |ORDER BY o_totalprice, o_orderkey LIMIT 50""".stripMargin)),

    // range-constancy filter claiming on a TRANSFORM-partitioned table:
    // month(o_orderdate) keeps each file's date range inside one month,
    // so a month-aligned WHERE never straddles a file — the predicate is
    // applied exactly by whole-file selection (empty residual) and the
    // aggregate above it folds from snapshot stats with ZERO file IO.
    // This is Iceberg's manifest answering for its default temporal
    // transforms, without transform-specific logic: any file interval
    // no predicate literal splits is wholly in or wholly out
    "w42_temporal_claim" -> ((
      (s0: SparkSession, dir: String) => {
        // fresh CatalogManager per invocation: Spark caches catalog
        // instances by NAME, so re-registering the same name with a new
        // warehouse on a shared session silently serves the FIRST
        // warehouse (a bench double-run hit run-1 state and failed)
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-tclaim-").toString
        s.conf.set("spark.sql.catalog.graft_tclaim",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_tclaim.warehouse", wh)
        val w = new GraftWriter(new GraftCatalog(s, wh))
        val src = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderdate"), col("o_orderstatus"))
        w.writeTable("main", "orders_t", Seq(src), Append,
          cfg.copy(partitions =
            Seq(graft.partition.PartitionHint.month("o_orderdate"))), "l1")
        val q = s.sql("""SELECT COUNT(*) AS n, COUNT(o_custkey) AS n_cust,
          |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
          |FROM graft_tclaim.main.orders_t
          |WHERE o_orderdate >= DATE '1996-01-01'
          |  AND o_orderdate < DATE '1999-01-01'""".stripMargin)
        val plan = q.queryExecution.executedPlan.toString
        require(plan.contains("graft-meta-agg"),
          s"month-aligned temporal WHERE must answer from metadata:\n$plan")
        require(!plan.toLowerCase.contains("parquet"),
          s"claimed temporal aggregate must not touch a data file:\n$plan")
        // a non-aligned boundary must REFUSE the claim and fall back
        val off = s.sql("""SELECT COUNT(*) AS n
          |FROM graft_tclaim.main.orders_t
          |WHERE o_orderdate >= DATE '1996-06-15'""".stripMargin)
        require(!off.queryExecution.executedPlan.toString
          .contains("graft-meta-agg"),
          "a mid-month boundary straddles a file and must not claim")
        q
      },
      s"""SELECT COUNT(*) AS n, COUNT(o_custkey) AS n_cust,
         |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         |FROM orders
         |WHERE o_orderdate >= DATE '1996-01-01'
         |  AND o_orderdate < DATE '1999-01-01'""".stripMargin)),

    // write-path self-compaction (graft.write.auto-compact), the
    // small-file mirror of w37's auto-apply-deletes: a 12-commit trickle
    // of small appends trips the file_health signal mid-stream, inline
    // compaction bounds the resting file population, and the oracle pins
    // content-neutrality — maintenance must never change what the table
    // reads as
    "w43_auto_compact" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        val noPk = WriteConfig(retryUnitMs = 10)
        w.writeTable("main", "orders_t", Seq(target(s, dir).limit(0)),
          Append, noPk, "l0")
        // scale-proportional thresholds: a "small" file is anything under
        // 2x one slice's size (so the trickle's files count as small at
        // EVERY sf — at sf100 a slice is ~100 MB and the 32 MB default
        // would never fire), and the compaction target is ~4 slices
        val sliceBytes = math.max(1L << 20,
          t(s, dir, "orders").inputFiles.headOption.map(p =>
            new java.io.File(p.stripPrefix("file:")).length / 12).getOrElse(1L << 20))
        cat.loadTable("main", "orders_t").commit(m => m.copy(properties =
          m.properties
            + (Maintenance.AutoCompactProp -> "true")
            + (Maintenance.MaxSmallFilesProp -> "4")
            + (Maintenance.SmallFileBytesProp -> (sliceBytes * 2).toString)
            // one compaction output holds a full trickle's worth, so
            // outputs leave the "small" class and the resting population
            // stays a handful at every sf
            + (Maintenance.TargetFileBytesProp -> (sliceBytes * 12).toString)),
          unitMs = 1)
        // 12 disjoint slices = one small file per commit without
        // maintenance
        (0 until 12).foreach { i =>
          w.writeTable("main", "orders_t",
            Seq(target(s, dir).filter(col("o_orderkey") % 12 === i)),
            Append, noPk, s"t$i")
        }
        val tbl = cat.loadTable("main", "orders_t")
        val health = Maintenance.fileHealth(tbl)
        require(health.fileCount <= 5,
          s"auto-compact must bound the resting file population: $health")
        require(tbl.metadata.snapshots.exists(_.operation == "compact"),
          "inline compaction must have fired during the trickle")
        keyPrice(tbl.read())
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)""")),

    // Apache Iceberg v2 on-disk interop: the committed table is exported
    // as a REAL Iceberg metadata tree (metadata.json + Avro manifest
    // list + Avro manifest, spec field ids; data files referenced in
    // place — a metadata-only O(files) operation) through the SQL
    // procedure surface, then read back through the independent Iceberg
    // IMPORT path (metadata.json -> manifest list -> manifests -> files,
    // schema decoded from the Iceberg schema JSON). The oracle checks
    // the round-tripped CONTENT; IcebergInteropSpec pins the spec
    // constants (field ids 0-4/100-134/500-518, required metadata keys).
    "w44_iceberg_roundtrip" -> ((
      (s0: SparkSession, dir: String) => {
        val s = s0.newSession()
        val wh = Files.createTempDirectory("graft-icex-").toString
        s.conf.set("spark.sql.catalog.graft_ice",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_ice.warehouse", wh)
        val cat = new GraftCatalog(s, wh)
        val w = new GraftWriter(cat)
        // two commits, second evolves the schema — the export must carry
        // the evolved schema and import must null-fill stragglers
        w.writeTable("main", "orders_t",
          Seq(target(s, dir).filter(col("o_orderkey") % 2 === 0)),
          Append, cfg, "l1")
        w.writeTable("main", "orders_t",
          Seq(target(s, dir).filter(col("o_orderkey") % 2 =!= 0)
            .withColumn("o_flag", lit("odd"))),
          Append, cfg, "l2")
        val r = s.sql(
          "CALL graft_ice.system.iceberg_export('main.orders_t')").collect()(0)
        val mdPath = r.getString(0)
        require(mdPath.endsWith("v1.metadata.json") && r.getInt(1) > 0,
          s"unexpected export result: $r")
        val tableDir = java.nio.file.Paths.get(mdPath).getParent.getParent
        stageIcebergTree("w44_iceberg_roundtrip", tableDir.toString)
        graft.iceberg.IcebergInterop.importTable(s, tableDir.toString)
          .select(col("o_orderkey"), col("o_totalprice"),
            coalesce(col("o_flag"), lit("even")).as("o_flag"))
      },
      s"""SELECT o_orderkey, o_totalprice,
         |  CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS o_flag
         |FROM ($targetSql)""".stripMargin)),

    // Iceberg v2 MERGE-ON-READ interop: a table with an OUTSTANDING
    // delete backlog (two trickle upserts -> equality-delete files at
    // distinct sequence numbers; a predicate delete -> positional-delete
    // file) exports WITHOUT compacting first: the Iceberg tree carries a
    // real delete manifest (manifest-list content=1) whose content=2
    // equality-delete files name their key field ids via equality_ids
    // and whose content=1 positional-delete file uses the spec's
    // reserved file_path/pos field ids. The independent import path
    // applies them through MorRead under the v2 strict
    // `data_seq < delete_seq` rule — an upserted row must survive the
    // delete committed WITH it while its predecessor dies. The oracle
    // recomputes the merged end state relationally.
    "w45_iceberg_mor_roundtrip" -> ((
      (s: SparkSession, dir: String) => {
        val cat = scratch(s)
        val w = new GraftWriter(cat)
        // bucket-partitioned + merge-on-read: the export must carry the
        // REAL partition spec (bucket[8] tuples from value-exact stats)
        // alongside the delete manifest — the full interop matrix in one
        // driver entry
        val mor = cfg.copy(mergeOnRead = true, partitions =
          Seq(graft.partition.PartitionHint.bucket(8, "o_orderkey")))
        w.writeTable("main", "orders_t", Seq(target(s, dir)), Append, mor, "l1")
        w.writeTable("main", "orders_t",
          Seq(source(s, dir).filter(col("o_orderkey") % 10 === 4)),
          Merge("upsert"), mor, "l2")
        w.writeTable("main", "orders_t",
          Seq(source(s, dir).filter(col("o_orderkey") % 10 === 8)),
          Merge("upsert"), mor, "l3")
        w.deleteWhere("main", "orders_t", col("o_orderkey") % 10 === 7,
          mor, "l4")
        val tbl = cat.loadTable("main", "orders_t")
        val snap = tbl.metadata.currentSnapshot.get
        require(snap.deletes.size == 2 && snap.posDeletes.nonEmpty,
          "MoR backlog must be OUTSTANDING at export (else this entry " +
            s"proves nothing): ${snap.deletes.size} eq / " +
            s"${snap.posDeletes.size} pos")
        graft.iceberg.IcebergInterop.exportTable(tbl)
        // the export must have published the REAL spec, not fallen back
        // to unpartitioned (silent fallback would make this entry prove
        // less than it claims)
        val mdJson = Files.readString(tbl.dir.resolve("iceberg")
          .resolve("metadata").resolve("v1.metadata.json"))
        require(mdJson.contains("\"default-spec-id\" : 1") ||
          mdJson.contains("\"default-spec-id\": 1") ||
          mdJson.contains("\"default-spec-id\":1"),
          "export must carry the bucket[8] partition spec")
        require(mdJson.contains("bucket[8]"), "spec must name bucket[8]")
        stageIcebergTree("w45_iceberg_mor_roundtrip",
          tbl.dir.resolve("iceberg").toString)
        keyPrice(graft.iceberg.IcebergInterop.importTable(
          s, tbl.dir.resolve("iceberg").toString))
      },
      s"""SELECT o_orderkey, o_totalprice FROM ($targetSql)
         |  WHERE o_orderkey % 10 NOT IN (4, 7, 8)
         |UNION ALL
         |SELECT o_orderkey, o_totalprice FROM ($sourceSql)
         |  WHERE o_orderkey % 10 IN (4, 8)""".stripMargin))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (n, (fn, _)) => n -> fn }

  def oracleSql: Map[String, String] =
    entries.map { case (n, (_, sql)) => n -> sql }
}
