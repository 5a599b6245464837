package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** Point-lookup pruning via per-file KeyBloom filters: random (UUID) keys
  * defeat min/max range stats — every file spans the keyspace — so ledger
  * probes and UUID-keyed lookups need membership stats to avoid a
  * full-table scan per probe. */
class KeyBloomSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bloom encode/mightContain roundtrip; absent keys rejected") {
    val keys = (1 to 50).map(i => s"load-$i-${"%08x".format(i * 2654435761L & 0xffffffffL)}")
    val words = Array.fill(KeyBloom.NumLongs)(0L)
    keys.foreach(k => KeyBloom.positions(k).foreach(p =>
      words(p / 64) |= (1L << (p % 64))))
    val b64 = KeyBloom.encode(words.toSeq)
    assert(keys.forall(KeyBloom.mightContain(b64, _)))
    // 50 keys in 1024 bits: fp rate ~1.2e-3; 100 fixed probes pass easily
    val misses = (1 to 100).count(i => KeyBloom.mightContain(b64, s"absent-$i"))
    assert(misses <= 2, s"$misses bloom false positives out of 100")
  }

  test("UUID-keyed point lookup touches 1 file out of N via bloom stats") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-bloom-").toString)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, bloomColumns = Seq("load_id"))
    // 8 appends of 25 deterministic UUID-ish keys each: every file's
    // [min,max] spans most of the keyspace, so range pruning alone keeps
    // nearly all files for any probe
    def batchKeys(b: Int): Seq[String] = (1 to 25).map(i =>
      java.util.UUID.nameUUIDFromBytes(s"load-$b-$i".getBytes("UTF-8")).toString)
    (1 to 8).foreach { b =>
      val rows = batchKeys(b).zipWithIndex.map { case (k, i) => (k, i.toLong) }
      w.writeTable("main", "ledger",
        Seq(rows.toDF("load_id", "status").coalesce(1)), Append, cfg, s"l$b")
    }
    val t = cat.loadTable("main", "ledger")
    val m = t.metadata
    assert(m.currentFiles.size == 8)
    assert(m.currentFiles.forall(_.stats("load_id").bloom.isDefined))
    val probes = (1 to 8).map(b => b -> batchKeys(b).head)
    probes.foreach { case (b, k) =>
      // min/max alone keeps most files for a mid-keyspace probe...
      val rangeOnly = StatsPrune.files(m, Seq(StatsPrune.between("load_id", k, k)))
      assert(rangeOnly.size >= 6, "UUID keys should defeat range pruning")
      // ...the bloom prunes to the single file that holds the key
      // (25 keys in 1024 bits: fp/file ~ 8e-5, deterministic fixed data)
      val hit = StatsPrune.files(m,
        Seq(org.apache.spark.sql.sources.EqualTo("load_id", k)))
      assert(hit.size == 1, s"expected 1 file for batch $b, got ${hit.size}")
      assert(t.readPointLookup("load_id", k).count() == 1)
    }
    // negative probe: no file survives, read returns empty
    val absent = java.util.UUID.nameUUIDFromBytes("absent".getBytes("UTF-8")).toString
    assert(StatsPrune.files(m,
        Seq(org.apache.spark.sql.sources.EqualTo("load_id", absent))).isEmpty)
    assert(t.readPointLookup("load_id", absent).isEmpty)
  }

  test("UUID-keyed trickle upsert rewrites only bloom-matching files") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-bloomm-").toString)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, primaryKey = Seq("k"),
      bloomColumns = Seq("k"), clusterByKeys = false)
    def key(b: Int, i: Int): String =
      java.util.UUID.nameUUIDFromBytes(s"k-$b-$i".getBytes("UTF-8")).toString
    // 6 appended files of 20 UUID keys each: ranges all span the keyspace
    (1 to 6).foreach { b =>
      val rows = (1 to 20).map(i => (key(b, i), s"v$b-$i"))
      w.writeTable("main", "m", Seq(rows.toDF("k", "v").coalesce(1)), Append, cfg, s"l$b")
    }
    val t = cat.loadTable("main", "m")
    val before = t.metadata.currentFiles
    assert(before.size == 6)

    // upsert 2 keys living in file 3: only that file may be rewritten
    val batch = Seq((key(3, 5), "NEW5"), (key(3, 6), "NEW6")).toDF("k", "v")
    w.writeTable("main", "m", Seq(batch), Merge("upsert"), cfg, "up1")
    val after = cat.loadTable("main", "m").metadata.currentFiles
    val rewritten = before.map(_.path).toSet -- after.map(_.path).toSet
    assert(rewritten.size == 1,
      s"bloom probe should rewrite 1 of 6 files, rewrote ${rewritten.size}")
    val got = cat.loadTable("main", "m").read()
      .filter($"k".isin(key(3, 5), key(3, 6)))
      .collect().map(_.getString(1)).sorted.toSeq
    assert(got == Seq("NEW5", "NEW6"))
    assert(cat.loadTable("main", "m").read().count() == 120)
  }

  test("date/timestamp bloom columns: build encoding matches probe encoding") {
    // Regression: blooms were built over the DISPLAY cast ("2024-01-01")
    // while probes hash the canonical epoch-day/epoch-micros string, so
    // every temporal probe missed — point lookups returned empty and merge
    // probes skipped genuinely-affected files (silent stale duplicates).
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-bloomd-").toString)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, bloomColumns = Seq("d", "ts"))
    val rows = (1 to 30).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        java.sql.Timestamp.valueOf(s"2024-01-${"%02d".format((i % 28) + 1)} 10:30:00"),
        i.toLong)
    }
    (0 until 3).foreach { b =>
      w.writeTable("main", "temporal",
        Seq(rows.drop(b * 10).take(10).toDF("d", "ts", "v").coalesce(1)),
        Append, cfg, s"l$b")
    }
    val t = cat.loadTable("main", "temporal")
    val m = t.metadata
    assert(m.currentFiles.forall(_.stats("d").bloom.isDefined))
    assert(m.currentFiles.forall(_.stats("ts").bloom.isDefined))
    // a present date must survive the bloom probe and return its row
    val probe = java.sql.Date.valueOf("2024-01-06")
    assert(t.readPointLookup("d", probe).count() == 1)
    val key = Stager.canonicalKey(org.apache.spark.sql.types.DateType, probe)
    assert(StatsPrune.files(m,
        Seq(org.apache.spark.sql.sources.EqualTo("d", key))).size == 1,
      "date probe must hit exactly the file holding the key")
    val tsProbe = java.sql.Timestamp.valueOf("2024-01-06 10:30:00")
    assert(t.readPointLookup("ts", tsProbe).count() >= 1)
    // absent date: bloom prunes everything (ranges overlap across files)
    val absent = java.sql.Date.valueOf("2027-06-06")
    assert(t.readPointLookup("d", absent).isEmpty)
  }

  test("java.time probe values and NTZ columns canonicalize like their stats") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-ntz-").toString)
    val w = new GraftWriter(cat)
    val rows = (1 to 20).map { i =>
      (java.time.LocalDateTime.of(2024, 3, (i % 28) + 1, 12, 0, 0),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i)),
        i.toLong)
    }
    w.writeTable("main", "ntz", Seq(rows.toDF("nts", "d", "v").coalesce(1)),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val t = cat.loadTable("main", "ntz")
    assert(t.metadata.schema("nts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // scanRange with java.time.LocalDateTime bounds: used to fall through
    // to toString and throw in the numeric stat compare
    val got = t.scanRange("nts",
      java.time.LocalDateTime.of(2024, 3, 5, 0, 0, 0),
      java.time.LocalDateTime.of(2024, 3, 10, 23, 0, 0)).count()
    assert(got == rows.count(r => r._1.getDayOfMonth >= 5 && r._1.getDayOfMonth <= 10))
    // LocalDate probe on a DateType column canonicalizes to epoch-day too
    val d = t.scanRange("d",
      java.time.LocalDate.of(2024, 3, 10), java.time.LocalDate.of(2024, 3, 12)).count()
    assert(d == 3)
  }

  test("unsupported bloom column types are skipped, not mis-encoded") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-bloomu-").toString)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, bloomColumns = Seq("f", "k"))
    val rows = (1 to 10).map(i => (i.toDouble / 3.0, i.toLong))
    w.writeTable("main", "u", Seq(rows.toDF("f", "k").coalesce(1)), Append, cfg, "l1")
    val t = cat.loadTable("main", "u")
    val f = t.metadata.currentFiles.head
    assert(f.stats("f").bloom.isEmpty, "double column must not get a bloom")
    assert(f.stats("k").bloom.isDefined, "long column still gets a bloom")
    // bloom-less column stays conservatively readable
    assert(t.readPointLookup("f", 1.0 / 3.0).count() == 1)
  }

  test("pipeline ledger probes stay correct with bloom pruning") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-bloomp-").toString)
    val p = new graft.pipeline.GraftPipeline(cat, "main")
    (1 to 4).foreach { i =>
      p.stage("t", Seq((i.toLong, s"v$i")).toDF("id", "v"))
      p.completeLoad(s"load_$i-${java.util.UUID.nameUUIDFromBytes(Array(i.toByte))}")
    }
    assert(p.loadRecordExists(s"load_2-${java.util.UUID.nameUUIDFromBytes(Array(2.toByte))}"))
    assert(!p.loadRecordExists("load_9-nope"))
    assert(p.loads().count() == 4)
  }
}
