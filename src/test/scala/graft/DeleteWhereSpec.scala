package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** Predicate deletes (`DELETE FROM ... WHERE`) in both modes: copy-on-
  * write restages only the files with matching rows; merge-on-read
  * commits a positional delete vector (Iceberg-style) with no rewrite.
  * No primary key required in either mode. */
class DeleteWhereSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-dw-").toString)

  private def users(rows: (Long, String, Long)*): DataFrame =
    rows.toSeq.toDF("user_id", "username", "score")

  private val cfg = WriteConfig(retryUnitMs = 1)

  private def rowsOf(t: GraftTable): Set[(Long, String, Long)] =
    t.read().select("user_id", "username", "score")
      .as[(Long, String, Long)].collect().toSet

  test("copy-on-write deleteWhere restages only the files with matches") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(users((1, "a", 10), (2, "b", 20))), Append, cfg, "l1")
    val t = w.writeTable("main", "u", Seq(users((3, "c", 90), (4, "d", 95))), Append, cfg, "l2")
    val l1Files = t.metadata.snapshots.sortBy(_.snapshotId).head
      .dataFiles.map(_.path).toSet

    val n = w.deleteWhere("main", "u", col("score") >= 90, cfg)
    assert(n == 2L)
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b", 20L)))
    // l1's file had no matches: carried by identity, not rewritten
    assert(l1Files.subsetOf(t.metadata.currentFiles.map(_.path).toSet))
    assert(t.metadata.currentSnapshot.get.posDeletes.isEmpty)

    // no matches -> no commit
    val snaps = t.metadata.snapshots.size
    assert(w.deleteWhere("main", "u", col("score") > 1000, cfg) == 0L)
    assert(t.metadata.snapshots.size == snaps)
  }

  test("merge-on-read deleteWhere commits a delete vector, no rewrite") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val t = w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 90))), Append, cfg, "l1")
    val before = t.metadata.currentFiles.map(_.path).toSet

    val n = w.deleteWhere("main", "u", col("score") >= 90,
      cfg.copy(mergeOnRead = true))
    assert(n == 1L)
    // data files untouched; one positional delete file recorded
    assert(t.metadata.currentFiles.map(_.path).toSet == before)
    val pos = t.metadata.currentSnapshot.get.posDeletes
    assert(pos.size == 1 && pos.head.rowCount == 1)
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b", 20L)))

    // time travel before the delete still sees the row
    val preDelete = t.metadata.snapshots.sortBy(_.snapshotId).head.snapshotId
    assert(t.readSnapshot(preDelete).count() == 3)

    // physical apply clears the vector and keeps content
    assert(Maintenance.applyDeletes(t, retryUnitMs = 1))
    assert(t.metadata.currentSnapshot.get.posDeletes.isEmpty)
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("equality and positional deletes compose; compaction never resurrects") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val mcfg = cfg.copy(primaryKey = Seq("user_id"), mergeOnRead = true)
    w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20), (3, "c", 30))),
      Merge("upsert"), mcfg, "l1")
    // equality delete via MoR upsert of key 2
    w.writeTable("main", "u", Seq(users((2, "b2", 21))), Merge("upsert"), mcfg, "l2")
    // positional delete of key 1 by predicate
    val t = cat.loadTable("main", "u")
    assert(w.deleteWhere("main", "u", col("username") === "a",
      cfg.copy(mergeOnRead = true)) == 1L)
    val want = Set((2L, "b2", 21L), (3L, "c", 30L))
    assert(rowsOf(t) == want)

    assert(Maintenance.compact(t, retryUnitMs = 1))
    assert(rowsOf(t) == want, "compaction resurrected deleted rows")
    assert(Maintenance.applyDeletes(t, retryUnitMs = 1))
    assert(rowsOf(t) == want)
    assert(t.metadata.currentSnapshot.get.deletes.isEmpty &&
      t.metadata.currentSnapshot.get.posDeletes.isEmpty)
  }

  test("updateWhere applies SET in place (copy-on-write) and via vector+append (MoR)") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "u", Seq(users((1, "a", 10), (2, "b", 20))), Append, cfg, "l1")
    val t = w.writeTable("main", "u", Seq(users((3, "c", 90))), Append, cfg, "l2")
    val l1Files = t.metadata.snapshots.sortBy(_.snapshotId).head
      .dataFiles.map(_.path).toSet

    // CoW: only l2's file (the match) rewrites
    val n1 = w.updateWhere("main", "u", col("score") >= 90,
      Map("username" -> concat(col("username"), lit("!")),
        "score" -> (col("score") + 1)), cfg)
    assert(n1 == 1L)
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c!", 91L)))
    assert(l1Files.subsetOf(t.metadata.currentFiles.map(_.path).toSet))
    assert(t.metadata.currentSnapshot.get.posDeletes.isEmpty)

    // MoR: existing files untouched; vector + new file; update-of-update
    val before = t.metadata.currentFiles.map(_.path).toSet
    val n2 = w.updateWhere("main", "u", col("user_id") <= 2,
      Map("score" -> (col("score") * 10)), cfg.copy(mergeOnRead = true))
    assert(n2 == 2L)
    assert(before.subsetOf(t.metadata.currentFiles.map(_.path).toSet))
    assert(t.metadata.currentSnapshot.get.posDeletes.size == 1)
    assert(rowsOf(t) == Set((1L, "a", 100L), (2L, "b", 200L), (3L, "c!", 91L)))

    // second MoR update hits the previously-updated rows (new file's
    // positions get their own vector entries)
    val n3 = w.updateWhere("main", "u", col("score") === 100L,
      Map("username" -> lit("z")), cfg.copy(mergeOnRead = true))
    assert(n3 == 1L)
    assert(rowsOf(t) == Set((1L, "z", 100L), (2L, "b", 200L), (3L, "c!", 91L)))

    // physical apply collapses everything back to plain files
    assert(Maintenance.applyDeletes(t, retryUnitMs = 1))
    assert(rowsOf(t) == Set((1L, "z", 100L), (2L, "b", 200L), (3L, "c!", 91L)))
  }

  test("NULL predicate values keep their rows (three-valued logic)") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    // score null for user 2 — a delete on score >= 90 must keep it
    val withNull = Seq((1L, "a", java.lang.Long.valueOf(95L)),
      (2L, "b", null: java.lang.Long), (3L, "c", java.lang.Long.valueOf(10L)))
      .toDF("user_id", "username", "score")
    w.writeTable("main", "u", Seq(withNull), Append, cfg, "l1")
    // CoW: the null-score row shares a file with the match — it must
    // survive the rewrite
    assert(w.deleteWhere("main", "u", col("score") >= 90, cfg) == 1L)
    val t = cat.loadTable("main", "u")
    assert(t.read().select("user_id").as[Long].collect().toSet == Set(2L, 3L))
    // MoR mode: same rule
    assert(w.deleteWhere("main", "u", col("score") < 50,
      cfg.copy(mergeOnRead = true)) == 1L)
    assert(t.read().select("user_id").as[Long].collect().toSet == Set(2L))
  }

  test("deleteWhere planned before a compaction refuses the stale plan") {
    // the afterPlanning seam lands a compaction between each rewrite's
    // planning scan and its commit: the target file moved to a new path,
    // so the plan is stale — the rule must refuse rather than lose the
    // delete, commit nothing, and leave nothing staged behind
    val cases = Seq(
      ("deleteWhere CoW", false, GraftWriter.DeleteRows),
      ("deleteWhere MoR", true, GraftWriter.DeleteRows),
      ("updateWhere MoR", true,
        GraftWriter.UpdateRows(Map("username" -> lit("z")))))
    for ((label, mor, rewrite) <- cases) {
      val cat = freshCatalog()
      val w = new GraftWriter(cat)
      w.writeTable("main", "u", Seq(users((1, "a", 10))), Append, cfg, "l1")
      w.writeTable("main", "u", Seq(users((2, "b", 95))), Append, cfg, "l2")
      val t = cat.loadTable("main", "u")
      val before = rowsOf(t)
      intercept[ValidationError] {
        w.rewriteWhere("main", "u", col("score") >= 90, rewrite,
          cfg.copy(mergeOnRead = mor), "stale",
          afterPlanning = () => assert(Maintenance.compact(t, retryUnitMs = 1)))
      }
      assert(t.metadata.snapshots.last.operation == "compact", label)
      assert(rowsOf(t) == before, label)
      assert(Maintenance.vacuumOrphans(t, minAgeMs = 0L).isEmpty, label)
      // a fresh deleteWhere, planned against the compacted snapshot,
      // succeeds — only the STALE plan is refused
      assert(w.deleteWhere("main", "u", col("score") >= 90,
        cfg.copy(mergeOnRead = true)) == 1L, label)
      assert(t.read().select("user_id").as[Long].collect().toSet == Set(1L), label)
    }
  }

  test("a merge-on-read deleteWhere inside an updateWhere window refuses the update") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val mor = cfg.copy(mergeOnRead = true)
    val t = w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 95), (3, "c", 97))), Append, cfg, "l1")
    // the update's staged rows and vector were computed against the old
    // delete set; the delete that landed in between changes it
    intercept[ValidationError] {
      w.rewriteWhere("main", "u", col("score") >= 90,
        GraftWriter.UpdateRows(Map("username" -> lit("z"))), mor, "up",
        afterPlanning = () =>
          assert(w.deleteWhere("main", "u", col("user_id") === 1L, mor) == 1L))
    }
    assert(rowsOf(t) == Set((2L, "b", 95L), (3L, "c", 97L)))
    assert(Maintenance.vacuumOrphans(t, minAgeMs = 0L).isEmpty)
  }

  test("publishing a branch with merge-on-read deletes keeps them applied on main") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val mcfg = cfg.copy(primaryKey = Seq("user_id"), mergeOnRead = true)
    val t = w.writeTable("main", "u",
      Seq(users((1, "a", 10), (2, "b", 20))), Merge("upsert"), mcfg, "l1")
    t.createBranch("audit")
    // MoR upsert on the branch: delete file lives on the branch head
    w.writeTable("main", "u", Seq(users((2, "b2", 21))), Merge("upsert"),
      mcfg.copy(toBranch = Some("audit")), "l2")
    t.publish("audit")
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b2", 21L)),
      "published head's delete files must apply on main reads")
    assert(t.metadata.currentSnapshot.get.deletes.nonEmpty)
    assert(Maintenance.applyDeletes(t, retryUnitMs = 1))
    assert(rowsOf(t) == Set((1L, "a", 10L), (2L, "b2", 21L)))
  }

  test("SQL DELETE FROM routes through the engine in both modes") {
    val wh = Files.createTempDirectory("graft-dwsql-").toString
    spark.conf.set("spark.sql.catalog.gdel",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdel.warehouse", wh)
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    w.writeTable("main", "cow", Seq(users((1, "a", 10), (2, "b", 95))), Append, cfg, "l1")
    spark.sql("DELETE FROM gdel.main.cow WHERE score >= 90")
    assert(spark.sql("SELECT user_id FROM gdel.main.cow").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(cat.loadTable("main", "cow").metadata
      .currentSnapshot.get.posDeletes.isEmpty)

    // merge-on-read mode via table property: DELETE commits a vector
    spark.sql("""CREATE TABLE gdel.main.morq (user_id BIGINT, score BIGINT)
      TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO gdel.main.morq VALUES (1, 10), (2, 95), (3, 97)")
    spark.sql("DELETE FROM gdel.main.morq WHERE score >= 90 AND user_id < 3")
    val t = cat.loadTable("main", "morq")
    assert(t.metadata.currentSnapshot.get.posDeletes.size == 1)
    assert(spark.sql("SELECT user_id FROM gdel.main.morq ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }
}
