package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** Storage-partitioned joins: two graft tables co-bucketed on the join
  * key sort-merge join with ZERO shuffle on either side once the session
  * opts into `spark.sql.sources.v2.bucketing.enabled` — the
  * KeyGroupedPartitioning contract of [[GraftScan]] plus the `bucket`
  * function catalog resolution in [[GraftSparkCatalog]]. Conf off must
  * reproduce the exact pre-SPJ plan (shuffled), and results must match
  * in both modes. */
class SpjSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Conf-isolated session with the graft catalog registered and SPJ
    * opted in (broadcast off so the join shape is sort-merge, where the
    * shuffle elimination is observable). */
  private def spjSession(name: String, wh: String, enabled: Boolean): SparkSession = {
    val iso = spark.newSession()
    iso.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftSparkCatalog].getName)
    iso.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", enabled.toString)
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso
  }

  /** The production AQE-aware probe — the spec pins the same counter the
    * driver entries use, so an AQE node-type fix reaches both. */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    graft.plans.PlanOps.shuffles(df)

  private def writeBucketed(cat: GraftCatalog): Unit = {
    import spark.implicits._
    val w = new GraftWriter(cat)
    val facts = (1 to 4000).map(i =>
      (i.toLong % 97, i.toLong, s"f$i", (i % 13).toDouble))
      .toDF("k", "seq", "tag", "v")
    val dims = (0L until 97L).map(k => (k, s"dim$k")).toDF("k", "label")
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "k")))
    w.writeTable("main", "facts", Seq(facts), Append, cfg, "l1")
    w.writeTable("main", "dims", Seq(dims), Append, cfg, "l2")
  }

  test("co-bucketed join runs shuffle-free with v2 bucketing on; conf off shuffles; results agree") {
    val wh = Files.createTempDirectory("graft-spj-").toString
    writeBucketed(new GraftCatalog(spark, wh))

    val sql = """SELECT f.k, d.label, COUNT(*) AS n, SUM(f.v) AS sv
                |FROM spjon.main.facts f JOIN spjon.main.dims d ON f.k = d.k
                |GROUP BY f.k, d.label""".stripMargin

    val on = spjSession("spjon", wh, enabled = true)
    val dfOn = on.sql(sql)
    val nOn = shuffles(dfOn)
    assert(nOn == 0, s"expected shuffle-free SPJ plan, got $nOn shuffles:\n" +
      dfOn.queryExecution.executedPlan)

    val off = spjSession("spjon", wh, enabled = false)
    val dfOff = off.sql(sql)
    assert(shuffles(dfOff) > 0, "conf-off plan should shuffle (pre-SPJ shape)")

    val a = dfOn.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getDouble(3))).sortBy(_._1)
    val b = dfOff.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(a.sameElements(b))
    assert(a.length == 97)
  }

  test("analyzed co-bucketed join with CBO and v2 bucketing on: keyed scan carries column stats; results agree") {
    val wh = Files.createTempDirectory("graft-spj-cbo-").toString
    writeBucketed(new GraftCatalog(spark, wh))
    val sql = """SELECT f.k, d.label, COUNT(*) AS n, SUM(f.v) AS sv
                |FROM spjcbo.main.facts f JOIN spjcbo.main.dims d ON f.k = d.k
                |GROUP BY f.k, d.label""".stripMargin
    val off = spjSession("spjcbo", wh, enabled = false)
    Seq("facts", "dims").foreach(t =>
      off.sql(s"CALL spjcbo.system.analyze('main.$t')").collect())

    val on = spjSession("spjcbo", wh, enabled = true)
    on.conf.set("spark.sql.cbo.enabled", "true")
    val df = on.sql(sql)
    assert(shuffles(df) == 0, s"expected shuffle-free SPJ plan:\n" +
      df.queryExecution.executedPlan)
    val facts = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.relation.table.name().endsWith("facts") => r
    }
    assert(facts.size == 1, df.queryExecution.optimizedPlan)
    val attrStats = facts.head.stats.attributeStats
    assert(attrStats.keys.exists(_.name == "k"), s"no stats for k: $attrStats")

    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(rows(df).sameElements(rows(off.sql(sql))))
  }

  test("Iceberg-attached tables join shuffle-free: synthesized tuple stats drive SPJ") {
    val wh = Files.createTempDirectory("graft-spj-").toString
    val cat = new GraftCatalog(spark, wh)
    writeBucketed(cat)
    // export both sides as Iceberg trees, attach into a SECOND warehouse:
    // the attach path synthesizes the derived-column stats from the
    // manifest partition tuples, which must make the attached tables
    // SPJ-eligible with no restage
    graft.iceberg.IcebergInterop.exportTable(cat.loadTable("main", "facts"))
    graft.iceberg.IcebergInterop.exportTable(cat.loadTable("main", "dims"))
    val wh2 = Files.createTempDirectory("graft-spjatt-").toString
    val cat2 = new GraftCatalog(spark, wh2)
    graft.iceberg.IcebergInterop.importAsTable(cat2, "main", "facts",
      cat.loadTable("main", "facts").dir.resolve("iceberg").toString)
    graft.iceberg.IcebergInterop.importAsTable(cat2, "main", "dims",
      cat.loadTable("main", "dims").dir.resolve("iceberg").toString)

    val sql = """SELECT f.k, d.label, COUNT(*) AS n, SUM(f.v) AS sv
                |FROM spjatt.main.facts f JOIN spjatt.main.dims d ON f.k = d.k
                |GROUP BY f.k, d.label""".stripMargin
    val on = spjSession("spjatt", wh2, enabled = true)
    val df = on.sql(sql)
    assert(shuffles(df) == 0,
      s"attached tables must SPJ shuffle-free:\n${df.queryExecution.executedPlan}")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rows.size == 97 && rows.values.sum == 4000L,
      s"attached SPJ join lost rows: ${rows.size} keys / ${rows.values.sum}")
  }

  test("group-by on the bucketed key aggregates without an exchange") {
    val wh = Files.createTempDirectory("graft-spj-agg-").toString
    writeBucketed(new GraftCatalog(spark, wh))
    val on = spjSession("spjagg", wh, enabled = true)
    val df = on.sql(
      "SELECT k, COUNT(*) AS n FROM spjagg.main.facts GROUP BY k")
    assert(shuffles(df) == 0,
      s"bucketed group-by should satisfy clustering:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(_.getLong(1)).sum == 4000L)
  }

  test("identity-partitioned tables also report key-grouped partitioning") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-id-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.identity("grp")))
    val left = (1 to 900).map(i => (i % 7, i.toLong)).toDF("grp", "x")
    val right = (0 until 7).map(g => (g, s"g$g")).toDF("grp", "name")
    w.writeTable("main", "l", Seq(left), Append, cfg, "l1")
    w.writeTable("main", "r", Seq(right), Append, cfg, "l2")

    val on = spjSession("spjid", wh, enabled = true)
    val df = on.sql("""SELECT l.grp, r.name, SUM(l.x) AS sx
      |FROM spjid.main.l l JOIN spjid.main.r r ON l.grp = r.grp
      |GROUP BY l.grp, r.name""".stripMargin)
    assert(shuffles(df) == 0,
      s"identity SPJ should be shuffle-free:\n${df.queryExecution.executedPlan}")
    assert(df.collect().length == 7)
  }

  test("one-sided SPJ: only the non-bucketed side shuffles, through the V2 bucket function") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-one-").toString
    writeBucketed(new GraftCatalog(spark, wh))
    val on = spjSession("spjone", wh, enabled = true)
    // storage-partitioned side + a plain (unbucketed) in-memory side:
    // with v2 bucketing shuffle enabled Spark evaluates OUR bucket
    // function (GraftBucketFunction.produceResult) to route the plain
    // side into the facts table's existing layout — one shuffle total,
    // and none on the bucketed scan
    on.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    locally {
      import on.implicits._
      (0L until 97L).map(k => (k, k * 2)).toDF("k", "w")
        .createOrReplaceTempView("plain_on")
    }
    val df = on.sql("""SELECT f.k, COUNT(*) AS n, SUM(p.w) AS sw
      |FROM spjone.main.facts f JOIN plain_on p ON f.k = p.k
      |GROUP BY f.k""".stripMargin)
    val n = shuffles(df)
    assert(n == 1,
      s"one-sided SPJ should shuffle only the plain side, got $n:\n" +
        df.queryExecution.executedPlan)
    assert(df.collect().length == 97)
  }

  test("join keys covering only part of the partition tuple still SPJ with the subset conf") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-sub-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    // two-field spec: bucket on the join key PLUS an identity field the
    // join does not mention
    val cfg = WriteConfig(retryUnitMs = 1, partitions = Seq(
      graft.partition.PartitionHint.bucket(4, "k"),
      graft.partition.PartitionHint.identity("side")))
    val l = (1 to 2000).map { i =>
      val k = i.toLong % 53
      (k, if (k % 2 == 0) "e" else "o", i.toLong)
    }.toDF("k", "side", "x")
    val r = (0L until 53L).map(k => (k, if (k % 2 == 0) "e" else "o",
      s"r$k")).toDF("k", "side", "name")
    w.writeTable("main", "l", Seq(l), Append, cfg, "l1")
    w.writeTable("main", "r", Seq(r), Append, cfg, "l2")
    val on = spjSession("spjsub", wh, enabled = true)
    on.conf.set(
      "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled",
      "true")
    on.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    // subset-key compatibility is additionally gated on relaxing the
    // all-cluster-keys co-partition requirement
    on.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // NOTE: every partition SOURCE column must survive column pruning on
    // both scans — Spark resolves the reported transforms against the
    // scan output and drops the whole KeyGroupedPartitioning if any key
    // (here identity(side)) fails to resolve. Referencing l.side/r.side
    // in the aggregate keeps them projected.
    val df = on.sql("""SELECT l.k, SUM(l.x) AS sx,
      |  MIN(l.side) AS ls, MIN(r.side) AS rs
      |FROM spjsub.main.l l JOIN spjsub.main.r r ON l.k = r.k
      |GROUP BY l.k""".stripMargin)
    assert(shuffles(df) == 0,
      s"subset-key SPJ should be shuffle-free:\n${df.queryExecution.executedPlan}")
    assert(df.collect().length == 53)
  }

  test("day-partitioned tables join on ts equality shuffle-free (temporal transforms)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-day-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.day("ts")))
    val mk = (i: Int) => java.sql.Timestamp.valueOf(
      s"2026-01-${"%02d".format(1 + i % 9)} 0${i % 10}:00:00")
    val a = (1 to 900).map(i => (mk(i), i.toLong)).toDF("ts", "x")
    val b = (1 to 900 by 3).map(i => (mk(i), s"b$i")).toDF("ts", "tag")
    w.writeTable("main", "a", Seq(a), Append, cfg, "l1")
    w.writeTable("main", "b", Seq(b), Append, cfg, "l2")
    val on = spjSession("spjday", wh, enabled = true)
    // equal ts implies equal days(ts): the ts-equality join is
    // co-partitioned by the temporal transform, resolved through the
    // catalog's days() V2 function
    val df = on.sql("""SELECT a.ts, COUNT(*) AS n, SUM(a.x) AS sx
      |FROM spjday.main.a a JOIN spjday.main.b b ON a.ts = b.ts
      |GROUP BY a.ts""".stripMargin)
    assert(shuffles(df) == 0,
      s"day-partitioned ts join should be shuffle-free:\n" +
        df.queryExecution.executedPlan)
    assert(df.collect().nonEmpty)
  }

  test("zorder keeps the value-exact layout: a zordered table still joins shuffle-free") {
    val wh = Files.createTempDirectory("graft-spj-z-").toString
    val cat = new GraftCatalog(spark, wh)
    writeBucketed(cat)
    assert(graft.write.Maintenance.zorder(cat.loadTable("main", "facts"),
      Seq("seq", "v"), targetFiles = 8, retryUnitMs = 1))
    val on = spjSession("spjz", wh, enabled = true)
    val df = on.sql("""SELECT f.k, COUNT(*) AS n
      |FROM spjz.main.facts f JOIN spjz.main.dims d ON f.k = d.k
      |GROUP BY f.k""".stripMargin)
    assert(shuffles(df) == 0,
      s"post-zorder SPJ should stay shuffle-free:\n${df.queryExecution.executedPlan}")
    assert(df.collect().length == 97)
  }

  test("truncate-partitioned tables join shuffle-free through the V2 truncate function") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-tr-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.truncate(4, "code")))
    val a = (1 to 800).map(i => (s"PRE${i % 37}_x$i", i.toLong)).toDF("code", "x")
    val b = (1 to 800 by 5).map(i => (s"PRE${i % 37}_x$i", s"t$i")).toDF("code", "tag")
    w.writeTable("main", "a", Seq(a), Append, cfg, "l1")
    w.writeTable("main", "b", Seq(b), Append, cfg, "l2")
    val on = spjSession("spjtr", wh, enabled = true)
    val df = on.sql("""SELECT a.code, COUNT(*) AS n
      |FROM spjtr.main.a a JOIN spjtr.main.b b ON a.code = b.code
      |GROUP BY a.code""".stripMargin)
    assert(shuffles(df) == 0,
      s"truncate SPJ should be shuffle-free:\n${df.queryExecution.executedPlan}")
    assert(df.collect().length == 160)
  }

  test("unpartitioned tables stay on the unwrapped path; a bucketed MoR point read stays correct") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-mor-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    // unpartitioned: never wrapped, conf on or off
    w.writeTable("main", "plain", Seq((1 to 100).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, WriteConfig(retryUnitMs = 1), "l1")
    val on = spjSession("spjmor", wh, enabled = true)
    assert(on.sql("SELECT COUNT(*) FROM spjmor.main.plain")
      .collect()(0).getLong(0) == 100L)
    // bucketed + an outstanding MoR delete: deletes now apply UNDER the
    // SPJ wrap (residual filters evaluated above the row stream)
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "id")))
    w.writeTable("main", "bm", Seq((1 to 100).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, cfg, "l2")
    w.writeTable("main", "bm", Seq(Seq((5L, 500)).toDF("id", "v")),
      Merge("upsert"), cfg, "l3")
    val df = on.sql("SELECT id, v FROM spjmor.main.bm WHERE id IN (4, 5)")
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((4L, 4), (5L, 500)))
    // COUNT must not push an aggregate into the raw parquet scan (it
    // would count the logically-deleted pre-upsert row)
    assert(on.sql("SELECT COUNT(*) FROM spjmor.main.bm")
      .collect()(0).getLong(0) == 100L)
  }

  test("merge-on-read SPJ: equality deletes apply under a shuffle-free co-bucketed join") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-moreq-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("seq"),
      mergeOnRead = true,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "k")))
    val facts = (1 to 4000).map(i =>
      (i.toLong % 97, i.toLong, (i % 13).toDouble)).toDF("k", "seq", "v")
    w.writeTable("main", "facts", Seq(facts), Append, cfg, "l1")
    val dims = (0L until 97L).map(k => (k, s"dim$k")).toDF("k", "label")
    w.writeTable("main", "dims", Seq(dims), Append,
      WriteConfig(retryUnitMs = 1,
        partitions = Seq(graft.partition.PartitionHint.bucket(4, "k"))), "l2")
    // MoR upsert: seq 5 moves to k=96 with v=1000 — an outstanding
    // equality delete on `seq` (a column the join never mentions) must
    // kill the OLD row inside the wrapped scan
    w.writeTable("main", "facts", Seq(Seq((96L, 5L, 1000.0d))
      .toDF("k", "seq", "v")), Merge("upsert"), cfg, "l3")
    assert(cat.loadTable("main", "facts").metadata.currentSnapshot
      .exists(_.deletes.nonEmpty), "precondition: outstanding MoR delete")

    val sql = """SELECT f.k, d.label, COUNT(*) AS n, SUM(f.v) AS sv
                |FROM C.main.facts f JOIN C.main.dims d ON f.k = d.k
                |GROUP BY f.k, d.label""".stripMargin
    val on = spjSession("spjme", wh, enabled = true)
    val dfOn = on.sql(sql.replace("C.", "spjme."))
    assert(shuffles(dfOn) == 0,
      s"MoR SPJ join should be shuffle-free:\n${dfOn.queryExecution.executedPlan}")
    assert(graft.plans.PlanOps.scanDescriptions(dfOn)
      .exists(_.startsWith("graft-spj-mor")),
      "facts scan should be the MoR SPJ wrap")

    val off = spjSession("spjme", wh, enabled = false)
    val dfOff = off.sql(sql.replace("C.", "spjme."))
    assert(shuffles(dfOff) > 0, "conf-off MoR plan still shuffles (V1 fallback)")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(norm(dfOn).sameElements(norm(dfOff)))
    // the upserted row landed in k=96 and the k=5%97 group lost one row
    val total = on.sql("SELECT COUNT(*) AS n, SUM(v) AS sv FROM spjme.main.facts")
      .collect()(0)
    assert(total.getLong(0) == 4000L)
    assert(total.getDouble(1) ==
      facts.collect().map(_.getDouble(2)).sum - 5.0d + 1000.0d)
  }

  test("equality-only MoR pushes filters into the parquet scan; fallback re-applies them") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-morpush-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "id")))
    w.writeTable("main", "bm", Seq((1 to 1000).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, cfg, "l1")
    w.writeTable("main", "bm", Seq(Seq((5L, 5000)).toDF("id", "v")),
      Merge("upsert"), cfg, "l2")

    val on = spjSession("spjpush", wh, enabled = true)
    val df = on.sql("SELECT id, v FROM spjpush.main.bm WHERE v > 900")
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    // upserted row (5 -> 5000) matches; old row 5 must NOT resurrect
    assert(rows.toSeq ==
      ((901 to 1000).map(i => (i.toLong, i)) :+ ((5L, 5000))).sortBy(_._1))
    val descs = graft.plans.PlanOps.scanDescriptions(df)
    assert(descs.exists(d => d.startsWith("graft-spj-mor") &&
      d.contains("PushedFilters: [") && d.contains("GreaterThan(v,900)")),
      s"equality-only MoR should push the filter to parquet:\n$descs")

    // conf off: V1 fallback must RE-APPLY the forwarded filters
    val off = spjSession("spjpush", wh, enabled = false)
    val r2 = off.sql("SELECT id, v FROM spjpush.main.bm WHERE v > 900")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(r2.sameElements(rows))
  }

  test("unpartitioned MoR serves through the plain wrap with parquet pushdown") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-morplain-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "u", Seq((1 to 500).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, cfg, "l1")
    w.writeTable("main", "u", Seq(Seq((7L, 7000)).toDF("id", "v")),
      Merge("upsert"), cfg, "l2")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.morplain", classOf[GraftSparkCatalog].getName)
    s.conf.set("spark.sql.catalog.morplain.warehouse", wh)
    // no v2 bucketing opt-in, no partition spec: the plain wrap serves
    val df = s.sql("SELECT id, v FROM morplain.main.u WHERE v >= 400")
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(rows.toSeq ==
      ((400 to 500).map(i => (i.toLong, i)) :+ ((7L, 7000))).sortBy(_._1))
    val descs = graft.plans.PlanOps.scanDescriptions(df)
    assert(descs.exists(d => d.startsWith("graft-mor ") &&
      d.contains("PushedFilters: [") &&
      d.contains("GreaterThanOrEqual(v,400)")),
      s"unpartitioned MoR should push filters through the plain wrap:\n$descs")
    // COUNT stays exact (agg pushdown declined; deleted row not counted)
    assert(s.sql("SELECT COUNT(*) FROM morplain.main.u")
      .collect()(0).getLong(0) == 500L)
    // positional deletes: plain wrap with whole-file row counting
    w.deleteWhere("main", "u", org.apache.spark.sql.functions.col("id") <= 10,
      WriteConfig(retryUnitMs = 1, mergeOnRead = true), "l3")
    val t = cat.loadTable("main", "u")
    assert(t.metadata.currentSnapshot.exists(_.posDeletes.nonEmpty))
    val n2 = s.sql("SELECT COUNT(*) FROM morplain.main.u").collect()(0).getLong(0)
    assert(n2 == 490L, s"positions 1..10 dead (7 was already fenced): $n2")
  }

  test("MoR SPJ applies delete files written before a key-type promotion") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-morprom-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    // int-typed PK at first; the delete file stores INT keys
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "grp")))
    w.writeTable("main", "p", Seq((1 to 200).map(i => (i % 7L, i, s"v$i"))
      .toDF("grp", "id", "v")), Append, cfg, "l1")
    w.writeTable("main", "p", Seq(Seq((3L, 5, "v5b")).toDF("grp", "id", "v")),
      Merge("upsert"), cfg, "l2")
    // long-typed batch promotes id (int→long); the old INT-keyed delete
    // must still fence under the promoted schema inside the wrapped
    // reader (the probe projections cast through the CURRENT types)
    w.writeTable("main", "p", Seq(Seq((4L, 1000L, "new")).toDF("grp", "id", "v")),
      Merge("upsert"), cfg, "l3")
    val t = cat.loadTable("main", "p")
    assert(t.metadata.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.metadata.currentSnapshot.exists(_.deletes.nonEmpty))

    val on = spjSession("spjprom", wh, enabled = true)
    val df = on.sql("SELECT grp, id, v FROM spjprom.main.p WHERE id IN (5, 1000)")
    assert(graft.plans.PlanOps.scanDescriptions(df)
      .exists(_.startsWith("graft-spj-mor")), "must serve through the MoR wrap")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._2)
    assert(got.toSeq == Seq((3L, 5L, "v5b"), (4L, 1000L, "new")),
      s"old int-keyed delete must fence the pre-upsert row: ${got.toSeq}")
    assert(on.sql("SELECT COUNT(*) FROM spjprom.main.p")
      .collect()(0).getLong(0) == 201L)
  }

  test("merge-on-read SPJ: positional deletes apply under whole-file key-grouped partitions") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-morpos-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "k")))
    val facts = (1 to 2000).map(i => (i.toLong % 53, i.toLong)).toDF("k", "x")
    w.writeTable("main", "facts", Seq(facts), Append, cfg, "l1")
    val dims = (0L until 53L).map(k => (k, s"d$k")).toDF("k", "label")
    w.writeTable("main", "dims", Seq(dims), Append, cfg, "l2")
    // positional delete vector (DELETE FROM in merge-on-read mode)
    w.deleteWhere("main", "facts",
      org.apache.spark.sql.functions.col("x") % 10 === 3,
      WriteConfig(retryUnitMs = 1, mergeOnRead = true), "l3")
    val t = cat.loadTable("main", "facts")
    assert(t.metadata.currentSnapshot.exists(_.posDeletes.nonEmpty),
      "precondition: outstanding positional delete vector")

    val on = spjSession("spjmp", wh, enabled = true)
    val df = on.sql("""SELECT f.k, COUNT(*) AS n, SUM(f.x) AS sx
      |FROM spjmp.main.facts f JOIN spjmp.main.dims d ON f.k = d.k
      |GROUP BY f.k""".stripMargin)
    assert(shuffles(df) == 0,
      s"positional-delete MoR SPJ should be shuffle-free:\n" +
        df.queryExecution.executedPlan)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val expect = (1 to 2000).map(i => (i.toLong % 53, i.toLong))
      .filterNot(_._2 % 10 == 3)
      .groupBy(_._1).map { case (k, rs) =>
        (k, rs.size.toLong, rs.map(_._2).sum) }.toArray.sortBy(_._1)
    assert(got.sameElements(expect))
  }

  test("runtime partition pruning: a dim-filtered join opens only matching fact partitions") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-dpp-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val fact = (1 to 8000).map(i => (i % 8, i.toLong)).toDF("grp", "v")
    val dim = (0 until 8).map(g => (g, s"g$g")).toDF("grp", "label")
    w.writeTable("main", "fact", Seq(fact), Append,
      WriteConfig(retryUnitMs = 1,
        partitions = Seq(graft.partition.PartitionHint.identity("grp"))), "l1")
    w.writeTable("main", "dim", Seq(dim), Append,
      WriteConfig(retryUnitMs = 1), "l2")

    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.spjdpp",
      classOf[GraftSparkCatalog].getName)
    s.conf.set("spark.sql.catalog.spjdpp.warehouse", wh)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // static plan so the scan node (and its metrics) are directly
    // collectible; DPP itself is the classic broadcast-reuse path
    s.conf.set("spark.sql.adaptive.enabled", "false")

    val df = s.sql("""SELECT COUNT(*) AS n
      |FROM spjdpp.main.fact f JOIN spjdpp.main.dim d ON f.grp = d.grp
      |WHERE d.label = 'g3'""".stripMargin)
    assert(df.collect()(0).getLong(0) == 1000L)

    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.description().startsWith("graft-spj") => b
    }
    assert(scans.nonEmpty, "fact scan should be SPJ-wrapped under the conf")
    val factScan = scans.head
    assert(factScan.runtimeFilters.nonEmpty,
      s"DPP should inject a runtime filter into the fact scan:\n" +
        df.queryExecution.executedPlan)
    val rows = factScan.metrics("numOutputRows").value
    assert(rows == 1000L,
      s"runtime pruning should open only the matching partition's file(s); " +
        s"scan produced $rows rows (8000 = unpruned)")
  }

  test("path-hostile identity partition values stage without row loss") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-esc-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    // spaces URL-encode in input_file_name(); ':' '=' '%' '#' Hive-escape
    // to %XX in the directory name — the stats pass must reconcile all of
    // them against the literal walk path or whole partitions silently
    // vanish from the snapshot. (Non-ASCII values are excluded only
    // because this container's JVM path charset is POSIX; encoding-wise
    // they follow the same URL-decode route as the space case.)
    val vals = Seq("North America", "a:b", "p%q", "x=y", "hash#tag", "plain")
    val data = for { v <- vals; i <- 1 to 11 } yield (v, i.toLong)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.identity("region")))
    w.writeTable("main", "esc", Seq(data.toDF("region", "x")), Append, cfg, "l1")
    val t = cat.loadTable("main", "esc")
    assert(t.metadata.currentFiles.map(_.rowCount).sum == data.length.toLong,
      "committed rows must equal staged input — an input_file_name()/walk " +
        "path-encoding mismatch drops whole partitions as 0-row")
    val back = t.read().select("region", "x").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(back.sorted.toSeq == data.sorted)
  }

  test("temporal V2 functions agree with the write-side transform at the timestamp range edge") {
    import graft.functions.GraftTemporalFunctions
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{DateType, IntegerType, StringType, TimestampType}
    def at(y: Int, mo: Int, d: Int, h: Int): Long = {
      val i = java.time.LocalDateTime.of(y, mo, d, h, 30, 15)
        .toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    // 9999-12-31: micros * 1000 nanos overflows Long past 2262-04-11 — a
    // naive Instant conversion silently mis-keys the shuffle side of a
    // one-sided SPJ
    val farUs = at(9999, 12, 31, 23)
    val row = new GenericInternalRow(Array[Any](java.lang.Long.valueOf(farUs)))
    val days = GraftTemporalFunctions.Bound("days", DateType, TimestampType)
    assert(days.produceResult(row) ==
      Integer.valueOf(java.time.LocalDate.of(9999, 12, 31).toEpochDay.toInt))
    val years = GraftTemporalFunctions.Bound("years", IntegerType, TimestampType)
    assert(years.produceResult(row) == Integer.valueOf(9999))
    val hours = GraftTemporalFunctions.Bound("hours", StringType, TimestampType)
    assert(hours.produceResult(row).toString == "9999-12-31-23")
    // pre-epoch stays floor-correct (floorDiv/floorMod, not truncation)
    val preUs = at(1965, 3, 2, 4)
    val preRow = new GenericInternalRow(Array[Any](java.lang.Long.valueOf(preUs)))
    assert(days.produceResult(preRow) ==
      Integer.valueOf(java.time.LocalDate.of(1965, 3, 2).toEpochDay.toInt))
    assert(hours.produceResult(preRow).toString == "1965-03-02-04")
  }

  test("delete-state size gate: an over-threshold backlog degrades to the join fallback, identical results") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-gate-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "id")))
    w.writeTable("main", "g", Seq((1 to 500).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, cfg, "l1")
    w.writeTable("main", "g", Seq(Seq((5L, 500), (9L, 900)).toDF("id", "v")),
      Merge("upsert"), cfg, "l2")
    // positional deletes join the backlog too (the gate sums both kinds)
    w.deleteWhere("main", "g", org.apache.spark.sql.functions.col("id") > 495,
      WriteConfig(retryUnitMs = 1, mergeOnRead = true), "l3")
    val snap = cat.loadTable("main", "g").metadata.currentSnapshot.get
    assert(snap.deletes.nonEmpty && snap.posDeletes.nonEmpty,
      "precondition: outstanding equality AND positional deletes")

    val on = spjSession("spjgate", wh, enabled = true)
    val q = "SELECT id, v FROM spjgate.main.g WHERE id <= 20"
    def rows() = on.sql(q).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    def descs() = graft.plans.PlanOps.scanDescriptions(on.sql(q))
    // baseline: under the default gate the driver-state wrap serves
    assert(descs().exists(d => d.startsWith("graft-spj-mor") ||
      d.startsWith("graft-mor")), s"expected a MoR wrap: ${descs()}")
    val expect = rows()
    assert(expect == ((1 to 20).map(i => (i.toLong, i))
      .map { case (i, v) => if (i == 5L) (i, 500) else if (i == 9L) (i, 900)
        else (i, v) }).toSeq)

    // tier 2: metadata-summed backlog over the gate — NO driver-side
    // delete-state collect; the V1 MorRead join application serves
    on.conf.set(MorRead.DriverStateMaxRowsKey, "1")
    try {
      assert(!descs().exists(d => d.startsWith("graft-spj-mor") ||
        d.startsWith("graft-mor")),
        s"gate must route past the driver-state wraps: ${descs()}")
      assert(rows() == expect, "gated fallback must return the same rows")
      // tier 3: backlog past broadcast scale — the join application drops
      // its broadcast hint (Spark plans a shuffle join), same answer
      on.conf.set(MorRead.BroadcastMaxRowsKey, "0")
      assert(rows() == expect, "shuffle-join application must return the same rows")
    } finally {
      on.conf.unset(MorRead.DriverStateMaxRowsKey)
      on.conf.unset(MorRead.BroadcastMaxRowsKey)
    }
  }

  test("planned MoR SPJ scan is snapshot-isolated from concurrent compaction") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-morrace-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "id")))
    w.writeTable("main", "r", Seq((1 to 1000).map(i => (i.toLong, i))
      .toDF("id", "v")), Append, cfg, "l1")
    w.writeTable("main", "r", Seq(Seq((5L, 5000)).toDF("id", "v")),
      Merge("upsert"), cfg, "l2")
    assert(cat.loadTable("main", "r").metadata.currentSnapshot
      .exists(_.deletes.nonEmpty), "precondition: outstanding delete")

    val on = spjSession("spjrace", wh, enabled = true)
    val df = on.sql("SELECT id, v FROM spjrace.main.r WHERE v > 900 OR id = 5")
    // bind the physical plan NOW: the scan captures THIS snapshot's data
    // and delete files; the delete state itself is read at execution
    df.queryExecution.executedPlan
    assert(graft.plans.PlanOps.scanDescriptions(df)
      .exists(_.startsWith("graft-spj-mor")), "must plan through the MoR wrap")

    // interleaved maintenance + writer AFTER planning, BEFORE execution:
    // compaction applies the (5 -> 5000) delete physically and removes the
    // delete files the planned scan is about to collect; a new upsert then
    // changes row 901, and a second compaction rewrites the small files
    assert(Maintenance.applyDeletes(cat.loadTable("main", "r"), retryUnitMs = 1))
    w.writeTable("main", "r", Seq(Seq((901L, -1)).toDF("id", "v")),
      Merge("upsert"), cfg, "l3")
    Maintenance.compact(cat.loadTable("main", "r"),
      smallFileBytes = 32L << 20, retryUnitMs = 1)

    // the planned query returns the BOUND snapshot's answer — the
    // pre-maintenance rows, never a mix with the post-plan commits
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val expect = ((901 to 1000).map(i => (i.toLong, i)) :+ ((5L, 5000)))
      .sortBy(_._1)
    assert(got.toSeq == expect,
      s"bound-snapshot answer must survive concurrent compaction: ${got.toSeq}")

    // a FRESH plan binds the new snapshot: row 901 now fails the filter
    val fresh = on.sql("SELECT id, v FROM spjrace.main.r WHERE v > 900 OR id = 5")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(fresh.toSeq == expect.filterNot(_._1 == 901L),
      s"fresh plan must see the post-maintenance state: ${fresh.toSeq}")
  }

  test("a join that does not read the partition source column plans; matches bucketing off") {
    // month(ship)-partitioned lines joined to orders on a non-partition
    // key: column pruning drops `ship` from the lines scan, so the scan
    // must not report a key-grouped partitioning over it
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-").toString
    val w = new GraftWriter(new GraftCatalog(spark, wh))
    val lines = (1 to 600).map(i => (i.toLong % 50,
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 90)),
      i.toDouble)).toDF("okey", "ship", "price")
    val orders = (0L until 50L).map(k => (k, s"p${k % 3}",
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k))))
      .toDF("okey", "prio", "odate")
    w.writeTable("main", "lines", Seq(lines), Append, WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.month("ship"))), "l1")
    w.writeTable("main", "orders", Seq(orders), Append,
      WriteConfig(retryUnitMs = 1), "l2")
    val sql = """SELECT o.prio, COUNT(*) AS n, SUM(l.price) AS s
                |FROM spjjoin.main.lines l JOIN spjjoin.main.orders o
                |  ON l.okey = o.okey
                |WHERE o.odate BETWEEN DATE'2024-01-05' AND DATE'2024-01-30'
                |GROUP BY o.prio""".stripMargin
    def answer(enabled: Boolean): Seq[(String, Long, Double)] =
      spjSession("spjjoin", wh, enabled).sql(sql).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
    val on = answer(enabled = true)
    assert(on == answer(enabled = false))
    assert(on.map(_._2).sum == (1 to 600).count(i => i % 50 >= 4 && i % 50 <= 29))
  }
}
