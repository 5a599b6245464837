package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** Merge-on-read (Iceberg v2 equality deletes): MoR merges commit a tiny
  * delete-key file instead of rewriting affected data files; reads apply
  * deletes via broadcast anti-join with sequence-number fencing
  * (a delete hits only data files OLDER than it). Pins:
  * result-equivalence with copy-on-write, the no-rewrite commit-cost
  * invariant, sequence fencing on reinserts, mixed CoW/MoR, compaction
  * safety, physical apply, rollback, and time travel. */
class MergeOnReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-mor-").toString)

  private def users(rows: (Long, String, Long)*): DataFrame =
    rows.toSeq.toDF("user_id", "username", "score")

  private val cfg = WriteConfig(primaryKey = Seq("user_id"),
    retryUnitMs = 1, mergeOnRead = true)
  private val cowCfg = cfg.copy(mergeOnRead = false)

  // hard-delete batches evolve `_dlt_deleted_at` into the table schema —
  // project the user columns so content comparisons stay stable
  private def rowsOf(t: GraftTable): Set[(Long, String, Long)] =
    t.read().select("user_id", "username", "score")
      .as[(Long, String, Long)].collect().toSet

  test("MoR upsert matches CoW on the same batches, without rewriting data files") {
    val b1 = users((1, "a", 10), (2, "b", 20), (3, "c", 30))
    val b2 = users((2, "b2", 21), (4, "d", 40))
    val mor = {
      val w = new GraftWriter(freshCatalog())
      w.writeTable("main", "u", Seq(b1), Merge("upsert"), cfg, "l1")
      w.writeTable("main", "u", Seq(b2), Merge("upsert"), cfg, "l2")
    }
    val cow = {
      val w = new GraftWriter(freshCatalog())
      w.writeTable("main", "u", Seq(b1), Merge("upsert"), cowCfg, "l1")
      w.writeTable("main", "u", Seq(b2), Merge("upsert"), cowCfg, "l2")
    }
    assert(rowsOf(mor) == rowsOf(cow))
    // commit-cost invariant: l1's data file survives VERBATIM in the
    // current snapshot (no rewrite), and the snapshot carries one delete
    // file for l2's keys
    val m = mor.metadata
    val snaps = m.snapshots.sortBy(_.snapshotId)
    val l1Files = snaps.head.dataFiles.map(_.path).toSet
    assert(l1Files.subsetOf(m.currentFiles.map(_.path).toSet),
      "MoR merge must not rewrite parent data files")
    val dels = m.currentSnapshot.get.deletes
    assert(dels.size == 1 && dels.head.rowCount == 2 &&
      dels.head.keyColumns == Seq("user_id"))
    // sequence fencing: the delete's seq equals the second commit, and
    // l2's own files are NOT its victims
    assert(dels.head.seq == snaps(1).snapshotId)
    val l2Files = snaps(1).dataFiles.filterNot(f => l1Files.contains(f.path))
    assert(l2Files.forall(_.dataSeq == snaps(1).snapshotId))
  }

  test("MoR delete-insert and hard deletes match the relational result") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 30))),
      Merge("delete-insert"), cfg, "l1")
    // 2 replaced, 3 hard-deleted, 4 inserted
    val marked = users((2, "b2", 21), (3, "c", 30), (4, "d", 40))
      .withColumn("_dlt_deleted_at",
        org.apache.spark.sql.functions.when($"user_id" === 3,
          org.apache.spark.sql.functions.current_timestamp()))
    val t = w.writeTable("main", "u", Seq(marked), Merge("delete-insert"), cfg, "l2")
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b2", 21L), (4L, "d", 40L)))
  }

  test("reinsert after MoR delete survives (sequence fencing)") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u", Seq(users((1, "a", 10))), Merge("upsert"), cfg, "l1")
    // delete key 1 via hard-delete, then re-insert it in a later load
    val dead = users((1, "a", 10)).withColumn("_dlt_deleted_at",
      org.apache.spark.sql.functions.current_timestamp())
    w.writeTable("main", "u", Seq(dead), Merge("upsert"), cfg, "l2")
    val t = w.writeTable("main", "u", Seq(users((1, "a3", 12))),
      Merge("upsert"), cfg, "l3")
    assert(rowsOf(t) == Set((1L, "a3", 12L)),
      "older deletes must not swallow newer reinserts")
    // and the intermediate state really was empty
    val snaps = t.metadata.snapshots.sortBy(_.snapshotId)
    assert(t.readSnapshot(snaps(1).snapshotId).count() == 0)
  }

  test("CoW merge on a table with outstanding MoR deletes applies them to restaged rows") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 30))),
      Merge("upsert"), cfg, "l1")
    w.writeTable("main", "u", Seq(users((2, "b2", 21))), Merge("upsert"), cfg, "l2")
    // CoW upsert touching key 1's file: the rewrite restages keys 2,3 from
    // l1's file — key 2's stale version must stay dead
    val t = w.writeTable("main", "u", Seq(users((1, "a2", 11))),
      Merge("upsert"), cowCfg, "l3")
    assert(rowsOf(t) == Set((1L, "a2", 11L), (2L, "b2", 21L), (3L, "c", 30L)))
  }

  test("compact and applyDeletes keep content and clear applied deletes") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 30))),
      Merge("upsert"), cfg, "l1")
    w.writeTable("main", "u", Seq(users((2, "b2", 21), (4, "d", 40))),
      Merge("upsert"), cfg, "l2")
    val t = w.writeTable("main", "u", Seq(users((3, "c2", 31))),
      Merge("upsert"), cfg, "l3")
    val before = rowsOf(t)
    assert(t.metadata.currentSnapshot.get.deletes.size == 2)

    // compaction restages small files WITH deletes applied (no
    // resurrection), carrying the delete files forward
    assert(Maintenance.compact(t, retryUnitMs = 1))
    assert(rowsOf(t) == before)

    // physical apply clears every delete file and keeps content
    assert(Maintenance.applyDeletes(t, retryUnitMs = 1))
    assert(rowsOf(t) == before)
    assert(t.metadata.currentSnapshot.get.deletes.isEmpty)
    assert(!Maintenance.applyDeletes(t, retryUnitMs = 1))
  }

  test("MoR merge commits with ZERO manifest body reads on a cold JVM") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 30))),
      Merge("upsert"), cfg, "l1")
    val t = {
      // simulate a fresh driver process: empty manifest cache
      graft.catalog.ManifestIO.clearCacheForTesting()
      val tt = w.writeTable("main", "u", Seq(users((2, "b2", 21))),
        Merge("upsert"), cfg, "l2")
      assert(graft.catalog.ManifestIO.bodyReads.get() == 0L,
        s"MoR merge read ${graft.catalog.ManifestIO.bodyReads.get()} manifest " +
          "bodies; its commit must be O(batch) — parent manifests carry by identity")
      tt
    }
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
  }

  test("maintenance policy bounds the outstanding delete set across trickle loads") {
    val cat = freshCatalog()
    val p = new graft.pipeline.GraftPipeline(cat, "main",
      policy = graft.pipeline.MaintenancePolicy(
        applyDeletesEveryLoads = 4, retryUnitMs = 1))
    (1 to 12).foreach { i =>
      p.stage("u", users((i.toLong % 3, s"u$i", i.toLong)), Merge("upsert"), cfg)
      p.completeLoad(s"load-$i")
    }
    val t = cat.loadTable("main", "u")
    val outstanding = t.metadata.currentSnapshot.get.deletes.size
    assert(outstanding < 4,
      s"$outstanding delete files outstanding — policy hook not applying")
    // last-writer-wins content: keys 0,1,2 from the latest loads
    assert(rowsOf(t).map(_._1) == Set(0L, 1L, 2L))
  }

  test("rollback restores the delete set; time travel sees per-snapshot deletes") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u", Seq(users((1, "a", 10), (2, "b", 20))),
      Merge("upsert"), cfg, "l1")
    val t = w.writeTable("main", "u", Seq(users((2, "b2", 21))),
      Merge("upsert"), cfg, "l2")
    val snaps = t.metadata.snapshots.sortBy(_.snapshotId)
    assert(t.readSnapshot(snaps(0).snapshotId).as[(Long, String, Long)]
      .collect().toSet == Set((1L, "a", 10L), (2L, "b", 20L)))
    t.rollbackTo(snaps(0).snapshotId)
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b", 20L)))
    assert(t.metadata.currentSnapshot.get.deletes.isEmpty)
    t.rollbackTo(snaps(1).snapshotId)
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b2", 21L)))
    assert(t.metadata.currentSnapshot.get.deletes.size == 1)
  }

  test("delete files written before a key-type promotion still apply") {
    val w = new GraftWriter(freshCatalog())
    // int-typed key in the first loads; the delete file stores int keys
    val intBatch = Seq((1, "a"), (2, "b")).toDF("user_id", "v")
    w.writeTable("main", "u", Seq(intBatch), Merge("upsert"), cfg, "l1")
    w.writeTable("main", "u", Seq(Seq((2, "b2")).toDF("user_id", "v")),
      Merge("upsert"), cfg, "l2")
    // long-typed batch promotes the key column (C7 int→long)
    val t = w.writeTable("main", "u",
      Seq(Seq((3L, "c")).toDF("user_id", "v")), Merge("upsert"), cfg, "l3")
    assert(t.metadata.schema("user_id").dataType ==
      org.apache.spark.sql.types.LongType)
    val got = t.read().select("user_id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")),
      "int-keyed delete file must still fence rows under the promoted schema")
  }

  test("partition-spec evolution: new loads cluster under the new spec, old files stay readable") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val pcfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.identity("username")))
    w.writeTable("main", "u", Seq(users((1, "a", 10), (2, "b", 20))),
      Append, pcfg, "l1")
    val t = cat.loadTable("main", "u")
    assert(t.metadata.partitionSpec.map(_.transform) == Seq("identity"))

    t.updatePartitionSpec(Seq(graft.partition.PartitionHint.bucket(4, "user_id")))
    assert(t.metadata.partitionSpec.map(_.transform) == Seq("bucket"))

    // new load stages under the bucket spec; reads union both vintages
    w.writeTable("main", "u", Seq(users((3, "c", 30), (4, "d", 40))),
      Append, WriteConfig(retryUnitMs = 1), "l2")
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b", 20L),
      (3L, "c", 30L), (4L, "d", 40L)))
    // new files carry the derived bucket stat; old ones don't (and are
    // conservatively kept by pruning)
    val bucketName = t.metadata.partitionSpec.head.name
    val newFiles = t.metadata.snapshots.sortBy(_.snapshotId).last.dataFiles
      .filterNot(t.metadata.snapshots.sortBy(_.snapshotId).head
        .dataFiles.map(_.path).toSet contains _.path)
    assert(newFiles.nonEmpty && newFiles.forall(_.stats.contains(bucketName)))
    assert(t.readPointLookup("user_id", 3L).count() == 1)
    assert(t.readPointLookup("user_id", 1L).count() == 1)

    // historical name reuse with different semantics is rejected
    intercept[ValidationError] {
      t.updatePartitionSpec(Seq(graft.partition.PartitionHint.bucket(8,
        "user_id", name = t.metadata.partitionSpec.head.name)))
    }
    // a typo'd column fails loudly instead of silently dropping the spec
    intercept[ValidationError] {
      t.updatePartitionSpec(Seq(graft.partition.PartitionHint.bucket(8, "user_iD")))
    }
    // intra-spec duplicate names rejected
    intercept[ValidationError] {
      t.updatePartitionSpec(Seq(
        graft.partition.PartitionHint.bucket(2, "user_id", name = "x"),
        graft.partition.PartitionHint.bucket(4, "score", name = "x")))
    }
    // an identity field may not shadow a DIFFERENT data column's name
    // (it would overwrite that column's staged stats)
    intercept[ValidationError] {
      t.updatePartitionSpec(Seq(
        graft.partition.PartitionHint.identity("username", name = "score")))
    }
  }

  test("changelog scan: inserts, equality-delete keys, positional victims") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 30))),
      Merge("upsert"), cfg, "l1")
    val t = cat.loadTable("main", "u")
    val s1 = t.metadata.currentSnapshotId.get
    // MoR upsert: update 2, insert 4; then a positional delete of 3
    w.writeTable("main", "u", Seq(users((2, "b2", 21), (4, "d", 40))),
      Merge("upsert"), cfg, "l2")
    w.deleteWhere("main", "u", org.apache.spark.sql.functions.col("username") === "c",
      cfg.copy(mergeOnRead = true), "d1")
    val s3 = t.metadata.currentSnapshotId.get

    val ch = t.changesBetween(s1, s3)
      .select("user_id", "username", "score", "_change_type")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)),
        Option(r.get(2)), r.getString(3))).toSet
    val want: Set[(Option[Any], Option[Any], Option[Any], String)] = Set(
      (Some(2L), Some("b2"), Some(21L), "insert"),
      (Some(4L), Some("d"), Some(40L), "insert"),
      (Some(2L), None, None, "delete"), // equality-delete key (partial row)
      // NO (4, delete): key 4 never existed at the window start — the
      // upsert's blind delete-key fence must not surface as CDC
      (Some(3L), Some("c"), Some(30L), "delete")) // positional victim, full row
    assert(ch == want, s"changelog mismatch: $ch")

    // a content-neutral rewrite in the window contributes ZERO change
    // events: the window splits at the rewrite snapshot instead of
    // refusing (a CDC consumer running behind a maintenance pool must
    // keep working)
    Maintenance.applyDeletes(t, retryUnitMs = 1)
    val afterApply = t.metadata.currentSnapshotId.get
    val ch2 = t.changesBetween(s1, afterApply)
      .select("user_id", "username", "score", "_change_type")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)),
        Option(r.get(2)), r.getString(3))).toSet
    assert(ch2 == want, s"rewrite-tolerant changelog mismatch: $ch2")

    // upsert -> compact -> upsert: exactly the two upserts' events
    w.writeTable("main", "u", Seq(users((5, "e", 50))),
      Merge("upsert"), cfg, "l3")
    Maintenance.compact(t, smallFileBytes = 1L << 30, retryUnitMs = 1)
    assert(t.metadata.currentSnapshot.get.operation == "compact")
    w.writeTable("main", "u", Seq(users((5, "e2", 51))),
      Merge("upsert"), cfg, "l4")
    val ch3 = t.changesBetween(afterApply, t.metadata.currentSnapshotId.get)
      .select("user_id", "username", "score", "_change_type")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)),
        Option(r.get(2)), r.getString(3))).toSet
    val want3: Set[(Option[Any], Option[Any], Option[Any], String)] = Set(
      (Some(5L), Some("e"), Some(50L), "insert"),
      (Some(5L), None, None, "delete"), // second upsert's delete key
      (Some(5L), Some("e2"), Some(51L), "insert"))
    assert(ch3 == want3, s"compact-window changelog mismatch: $ch3")

    // a CONTENT-CHANGING rewrite of a segment-start file still refuses
    // loudly (CoW delete restages the file holding user 1)
    w.deleteWhere("main", "u",
      org.apache.spark.sql.functions.col("user_id") === 1L,
      cfg.copy(mergeOnRead = false), "d2")
    intercept[ValidationError] {
      t.changesBetween(afterApply, t.metadata.currentSnapshotId.get)
    }
  }

  test("URI-encodable partition values: deletes still apply, deleteWhere still lands") {
    // Spark's _metadata.file_path is a percent-ENCODED URI while snapshot
    // metadata stores DECODED literal paths; a partition value with a
    // space puts an encodable char in every data-file path, which used to
    // un-match the attribution joins (resurrected deletes) and the
    // target-subset checks (spurious concurrency errors)
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val pcfg = cfg.copy(
      partitions = Seq(graft.partition.PartitionHint.identity("username")))
    w.writeTable("main", "u",
      Seq(users((1, "a b", 10), (2, "c d", 20), (3, "a b", 30))),
      Merge("upsert"), pcfg, "l1")
    // MoR upsert: equality delete must fence the old row of key 1
    val t = w.writeTable("main", "u", Seq(users((1, "a b", 11))),
      Merge("upsert"), pcfg, "l2")
    assert(rowsOf(t) == Set((1L, "a b", 11L), (2L, "c d", 20L), (3L, "a b", 30L)),
      "equality delete must apply under an encodable partition path")
    // positional delete (deleteWhere mergeOnRead): rows must vanish and
    // the target-subset guard must NOT fire spuriously
    val n = w.deleteWhere("main", "u", col("score") === 20L,
      pcfg.copy(mergeOnRead = true), "d1")
    assert(n == 1L)
    val t2 = cat.loadTable("main", "u")
    assert(rowsOf(t2) == Set((1L, "a b", 11L), (3L, "a b", 30L)),
      "positional delete must apply under an encodable partition path")
    assert(t2.metadata.currentSnapshot.get.posDeletes.nonEmpty)
    // physical apply: the rewrite must attribute the positional targets
    // (a path-form mismatch used to skip the rewrite while still
    // CLEARING the vector — permanent resurrection)
    assert(graft.write.Maintenance.applyDeletes(t2, retryUnitMs = 1))
    val t3 = cat.loadTable("main", "u")
    assert(t3.metadata.currentSnapshot.get.posDeletes.isEmpty &&
      t3.metadata.currentSnapshot.get.deletes.isEmpty)
    assert(rowsOf(t3) == Set((1L, "a b", 11L), (3L, "a b", 30L)),
      "apply-deletes must not resurrect rows under an encodable path")
  }

  test("point lookup and range scan apply deletes") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 30))),
      Merge("upsert"), cfg, "l1")
    val t = w.writeTable("main", "u", Seq(users((2, "b2", 21))),
      Merge("upsert"), cfg, "l2")
    assert(t.readPointLookup("user_id", 2L).as[(Long, String, Long)]
      .collect().toSet == Set((2L, "b2", 21L)))
    assert(t.scanRange("user_id", 1L, 3L).as[(Long, String, Long)]
      .collect().toSet ==
      Set((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
  }

  test("a negative driver-state row cap fails the facade read, naming the key") {
    val w = new GraftWriter(freshCatalog())
    w.writeTable("main", "u", Seq(users((1, "a", 10), (2, "b", 20))),
      Merge("upsert"), cfg, "l1")
    val t = w.writeTable("main", "u", Seq(users((2, "b2", 21))),
      Merge("upsert"), cfg, "l2")
    val e =
      try {
        spark.conf.set(MorRead.DriverStateMaxRowsKey, "-1")
        intercept[IllegalArgumentException](t.read().collect())
      } finally spark.conf.unset(MorRead.DriverStateMaxRowsKey)
    assert(e.getMessage.contains(MorRead.DriverStateMaxRowsKey) &&
      e.getMessage.contains("'-1'"), e.getMessage)
  }
}
