package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** Full write-path concurrency + degenerate-input robustness. */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-cc-").toString)

  private val cfg = WriteConfig(retryUnitMs = 1, maxRetries = 20)

  test("four concurrent append loads all land (CAS rebase on real writes)") {
    val cat = freshCatalog()
    cat.createTable("main", "t", StructType(Seq(StructField("x", LongType))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val w = new GraftWriter(cat)
          w.writeTable("main", "t",
            Seq(Seq((i * 10).toLong, (i * 10 + 1).toLong).toDF("x")),
            Append, cfg, s"load-$i")
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val t = cat.loadTable("main", "t")
    assert(t.metadata.snapshots.size == 4)
    assert(t.read().count() == 8)
    assert(t.metadata.snapshots.map(_.loadId.get).toSet ==
      (1 to 4).map(i => s"load-$i").toSet)
  }

  test("concurrent merges on disjoint keys both survive the rebase") {
    val cat = freshCatalog()
    val w0 = new GraftWriter(cat)
    val mcfg = cfg.copy(primaryKey = Seq("id"))
    w0.writeTable("main", "m",
      Seq(Seq((1L, "a"), (100L, "x")).toDF("id", "v")), Merge("upsert"), mcfg, "seed")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = Seq((1L, "a2"), (100L, "x2")).zipWithIndex.map { case ((id, v), i) =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          new GraftWriter(cat).writeTable("main", "m",
            Seq(Seq((id, v)).toDF("id", "v")), Merge("upsert"), mcfg, s"m-$i")
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val got = cat.loadTable("main", "m").read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a2"), (100L, "x2")))
  }

  test("concurrent merge-on-read merges both land; overlapping keys resolve by sequence") {
    val cat = freshCatalog()
    val w0 = new GraftWriter(cat)
    val mcfg = cfg.copy(primaryKey = Seq("id"), mergeOnRead = true)
    w0.writeTable("main", "m",
      Seq(Seq((1L, "a"), (100L, "x")).toDF("id", "v")), Merge("upsert"), mcfg, "seed")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = Seq((1L, "a2"), (100L, "x2")).zipWithIndex.map { case ((id, v), i) =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          new GraftWriter(cat).writeTable("main", "m",
            Seq(Seq((id, v)).toDF("id", "v")), Merge("upsert"), mcfg, s"m-$i")
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val t = cat.loadTable("main", "m")
    val got = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a2"), (100L, "x2")))
    // both MoR commits' delete files survived the CAS rebase; physical
    // apply converges to the same content
    assert(t.metadata.currentSnapshot.get.deletes.size == 2)
    Maintenance.applyDeletes(t, retryUnitMs = 1)
    val applied = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(applied.toSeq == Seq((1L, "a2"), (100L, "x2")))
  }

  /** Driver-only metadata whose current snapshot holds `files` and
    * positional deletes `deletes` inline — no manifest IO, no Spark job. */
  private def liveState(files: Seq[String], deletes: Seq[String] = Nil): TableMetadata =
    TableMetadata.create("main.t", "/nonexistent",
      StructType(Seq(StructField("x", LongType))), Nil, Map.empty).copy(
      currentSnapshotId = Some(1L),
      snapshots = Seq(Snapshot(1L, None, 0L, "append", None,
        files = Some(files.map(DataFile(_, 1L, 1L, Map.empty))),
        posDeleteFiles = Some(deletes.map(PosDeleteFile(_, 1L))))))

  test("staleness rule: an appended file passes 'still live' but fails 'identical'") {
    val fresh = liveState(Seq("a", "b", "c"))
    fresh.requireNotSuperseded("op", Set("a", "b"), identical = false)
    val e = intercept[ValidationError] {
      fresh.requireNotSuperseded("op", Set("a", "b"), identical = true)
    }
    assert(e.getMessage.startsWith("op superseded by a concurrent commit"))
    fresh.requireNotSuperseded("op", Set("a", "b", "c"), identical = true)
  }

  test("staleness rule: a removed target fails both file checks") {
    val fresh = liveState(Seq("a"))
    for (identical <- Seq(false, true))
      intercept[ValidationError] {
        fresh.requireNotSuperseded("op", Set("a", "b"), identical)
      }
  }

  test("staleness rule: a changed delete set fails only when delete paths are given") {
    val fresh = liveState(Seq("a", "b"), deletes = Seq("d1", "d2"))
    for (identical <- Seq(false, true)) {
      fresh.requireNotSuperseded("op", Set("a", "b"), identical)
      fresh.requireNotSuperseded("op", Set("a", "b"), identical,
        Some(Set("d1", "d2")))
      intercept[ValidationError] {
        fresh.requireNotSuperseded("op", Set("a", "b"), identical, Some(Set("d1")))
      }
    }
  }

  test("readers racing commits never parse a partly written version file") {
    // each version file carries a ~2 MB property, so writing one takes
    // many write() calls: a reader that could see a version file before
    // its last byte would fail to parse it
    val cat = freshCatalog()
    cat.createTable("main", "t", StructType(Seq(StructField("x", LongType))))
    val t = cat.loadTable("main", "t")
    val big = "x" * (2 << 20)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val readers = (1 to 2).map { _ =>
      val th = new Thread(() =>
        while (!stop.get()) {
          try t.metadataAt(t.currentVersion)
          catch { case e: Throwable => errs.add(e) }
        })
      th.start(); th
    }
    try (1 to 15).foreach { i =>
      t.commit(m => m.copy(properties = m.properties + ("big" -> s"$i$big")),
        unitMs = 1)
    } finally { stop.set(true); readers.foreach(_.join()) }
    assert(errs.isEmpty, s"a reader parsed a partly written version: ${errs.peek()}")
    assert(t.metadata.properties("big").startsWith("15x"))
    assert(!graft.catalog.PathIO.list(t.metadataDir)
      .exists(_.getFileName.toString.endsWith(".tmp")), "temp files left behind")
  }

  test("empty batch append commits an empty snapshot; empty merge is safe") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    w.writeTable("main", "t", Seq(empty), Append, cfg, "l0")
    val t = cat.loadTable("main", "t")
    assert(t.read().count() == 0)
    assert(t.metadata.snapshots.size == 1)

    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")), Append, cfg, "l1")
    w.writeTable("main", "t", Seq(empty), Merge("delete-insert"),
      cfg.copy(primaryKey = Seq("id")), "l2")
    assert(t.read().count() == 1) // empty merge removed nothing
  }

  test("null values in text columns flow through dedup and text ops") {
    val docs = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L, "the quick brown fox jumps over it"),
        org.apache.spark.sql.Row(2L, null)),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    // null text: dropped by shingling (size(null) is null), fingerprint null-groups
    assert(graft.llmops.Dedup.shingles(docs, 3).count() > 0)
    val stats = graft.llmops.TextOps.tokenStats(docs).collect()
    assert(stats.length == 2) // row preserved, stats null for the null doc
  }

  /** Fork a Spark-free committer JVM (graft.tools.CommitRacer) against
    * the compiled classes + Spark jars. */
  private def forkRacer(args: String*): Process = {
    val cp = "target/scala-2.13/classes" +
      java.io.File.pathSeparator + "/opt/spark/jars/*"
    val cmd = Seq("java", "-cp", cp, "graft.tools.CommitRacer") ++ args
    new ProcessBuilder(cmd: _*).inheritIO().start()
  }

  test("cross-process CAS: a second JVM races 20 commits against 20 in-process, none lost") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-xproc-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "seed")
    val dir = cat.loadTable("main", "t").dir.toString

    val proc = forkRacer("file", dir, "20", "procB")
    val t = cat.loadTable("main", "t")
    (1 to 20).foreach { i =>
      t.commit(_.withSnapshotDelta("append", Some(s"procA-$i"), Nil,
        Set.empty), maxRetries = 100, backoffBase = 1.2, unitMs = 2)
    }
    assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      "forked committer timed out")
    assert(proc.exitValue() == 0, "forked committer failed")

    val m = cat.loadTable("main", "t").metadata
    assert(m.snapshots.size == 41,
      s"1 seed + 40 raced commits must ALL land, got ${m.snapshots.size}")
    val loadIds = m.snapshots.flatMap(_.loadId)
    assert(loadIds.distinct.size == loadIds.size, "duplicate snapshot")
    (1 to 20).foreach { i =>
      assert(loadIds.contains(s"procA-$i") && loadIds.contains(s"procB-$i"))
    }
    // versions are a gapless CAS chain: every commit observed the one
    // before it (the cross-process serialization proof)
    assert(m.snapshots.map(_.snapshotId).sorted == (1L to 41L))
  }

  test("cross-process REST CAS: a second JVM's client races the in-process client through one server") {
    val wh = java.nio.file.Files.createTempDirectory("graft-xrest-").toString
    val server = new RestCatalogServer(spark, wh).start()
    try {
      val client = CatalogConfig(uri = server.uri).openRestClient()
      client.createNamespace("main")
      client.createTable("main", "t", org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))

      val proc = forkRacer("rest", server.uri, "main.t", "10", "remote")
      (1 to 10).foreach { i =>
        Retry.withRetries(maxRetries = 100, backoffBase = 1.2, unitMs = 2) { () =>
          val base = client.loadMetadata("main", "t")
          val next = base.withSnapshotDelta("append", Some(s"local-$i"),
            Nil, Set.empty)
          try client.commit("main", "t", base.currentSnapshotId, next)
          catch {
            case e: ValidationError
                if e.getMessage.contains("409") ||
                  e.getMessage.toLowerCase.contains("conflict") =>
              throw new CommitConflictError("main.t", -1, e)
          }
        }
      }
      assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "forked REST committer timed out")
      assert(proc.exitValue() == 0, "forked REST committer failed")
      val m = client.loadMetadata("main", "t")
      assert(m.snapshots.size == 20,
        s"all 20 REST commits must land, got ${m.snapshots.size}")
      val ids = m.snapshots.flatMap(_.loadId)
      (1 to 10).foreach { i =>
        assert(ids.contains(s"local-$i") && ids.contains(s"remote-$i"))
      }
    } finally server.stop()
  }

  test("a copy-on-write upsert that loses the CAS deletes its restage before the retry") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val pk = cfg.copy(primaryKey = Seq("id"))
    w.writeTable("main", "t", Seq((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")),
      Merge("upsert"), pk, "l1")
    val t = cat.loadTable("main", "t")
    // a concurrent append lands between the upsert's rewrite and its CAS:
    // the first attempt loses, restages against the new state and commits
    var landed = false
    GraftTable.beforeCas.put(t.dir, () => {
      w.writeTable("main", "t", Seq(Seq((100L, "c")).toDF("id", "v")),
        Append, cfg, "l-concurrent")
      landed = true
    })
    w.writeTable("main", "t", Seq(Seq((3L, "u3"), (11L, "u11")).toDF("id", "v")),
      Merge("upsert"), pk, "l2")
    assert(landed && !GraftTable.beforeCas.containsKey(t.dir))
    assert(t.metadata.snapshots.flatMap(_.loadId) == Seq("l1", "l-concurrent", "l2"))
    val expected = ((1L to 10L).map(i => i -> s"v$i").toMap ++
      Map(3L -> "u3", 11L -> "u11", 100L -> "c")).toSeq.sorted
    assert(t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted ==
      expected)
    assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
  }

  private def rows(t: GraftTable): Seq[(Long, String)] =
    t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted

  private val base = (1L to 10L).map(i => i -> s"v$i")

  /** Copy-on-write operations that stage inside their commit, each with
    * the rows it leaves when an append of (100, c) lands before its first
    * CAS. The table is partitioned by truncate(5, id). */
  private val lostCasOps: Seq[(String, GraftWriter => Unit, Seq[(Long, String)])] = {
    import org.apache.spark.sql.functions.{col, lit}
    Seq(
      ("deleteWhere", w => w.deleteWhere("main", "t", col("id") <= 3, cfg),
        base.filter(_._1 > 3)),
      ("updateWhere", w => w.updateWhere("main", "t", col("id") === 4,
        Map("v" -> lit("u4")), cfg),
        base.map { case (i, v) => i -> (if (i == 4L) "u4" else v) }),
      ("overwriteWhere", w => w.overwriteWhere("main", "t", col("id").between(8, 9),
        Seq((9L, "o9")).toDF("id", "v"), cfg),
        base.filterNot(r => r._1 == 8L || r._1 == 9L) :+ (9L -> "o9")),
      ("overwriteDynamic", w => w.overwriteDynamic("main", "t",
        Seq((6L, "d6")).toDF("id", "v"), cfg),
        base.filterNot(r => r._1 >= 5L && r._1 <= 9L) :+ (6L -> "d6")))
  }

  lostCasOps.foreach { case (name, op, after) =>
    test(s"a copy-on-write $name that loses the CAS deletes that attempt's output") {
      val cat = freshCatalog()
      val w = new GraftWriter(cat)
      w.writeTable("main", "t", Seq(base.toDF("id", "v")), Append,
        cfg.copy(partitions = Seq(graft.partition.PartitionHint.truncate(5, "id"))), "l1")
      val t = cat.loadTable("main", "t")
      var landed = false
      GraftTable.beforeCas.put(t.dir, () => {
        w.writeTable("main", "t", Seq(Seq((100L, "c")).toDF("id", "v")),
          Append, cfg, "l-concurrent")
        landed = true
      })
      op(w)
      assert(landed && !GraftTable.beforeCas.containsKey(t.dir))
      assert(t.metadata.snapshots.size == 3)
      assert(rows(t) == (after :+ (100L -> "c")).sorted)
      assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
    }
  }

  /** Lands a metadata-only commit before every CAS of `t` until removed,
    * so every attempt of every other commit loses. */
  private def loseEveryCas(t: GraftTable): Unit =
    GraftTable.beforeCas.put(t.dir, () => {
      t.commit(m => m.copy(properties =
        m.properties + ("graft.test.racer" -> System.nanoTime.toString)))
      loseEveryCas(t)
    })

  private val exhaustedOps: Seq[(String, (GraftWriter, GraftTable) => Any)] = Seq(
    ("an append with maxRetries = 2", (w, _) => w.writeTable("main", "t",
      Seq(Seq((11L, "v11")).toDF("id", "v")), Append, cfg.copy(maxRetries = 2), "l3")),
    ("Maintenance.compact", (_, t) =>
      Maintenance.compact(t, smallFileBytes = 1L << 20, retryUnitMs = 1)))

  exhaustedOps.foreach { case (name, op) =>
    test(s"$name that runs out of retries deletes what it staged") {
      val cat = freshCatalog()
      val w = new GraftWriter(cat)
      w.writeTable("main", "t", Seq(base.take(5).toDF("id", "v")), Append, cfg, "l1")
      w.writeTable("main", "t", Seq(base.drop(5).toDF("id", "v")), Append, cfg, "l2")
      val t = cat.loadTable("main", "t")
      loseEveryCas(t)
      try intercept[CommitConflictError](op(w, t))
      finally GraftTable.beforeCas.remove(t.dir)
      assert(t.metadata.snapshots.flatMap(_.loadId) == Seq("l1", "l2"))
      assert(t.metadata.snapshots.size == 2)
      assert(rows(t) == base)
      assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
    }
  }

  test("a published commit whose version hint cannot be replaced still succeeds") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(base.take(5).toDF("id", "v")), Append, cfg, "l1")
    val t = cat.loadTable("main", "t")
    // a non-empty directory where the hint goes: the move that replaces
    // the hint fails after the version is linked
    val hint = t.metadataDir.resolve("version-hint.text")
    Files.delete(hint)
    Files.createDirectories(hint.resolve("blocker"))
    w.writeTable("main", "t", Seq(base.drop(5).toDF("id", "v")), Append, cfg, "l2")
    assert(t.metadata.snapshots.flatMap(_.loadId) == Seq("l1", "l2"))
    assert(rows(t) == base)
    assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
  }
}
