package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._
import org.apache.spark.sql.functions._

/** Regression: Spark's RowLevelOperationRuntimeGroupFiltering injects a
  * runtime row filter over whatever attributes the operation scan
  * advertises for DPP. On the full-group (V1 merge-on-read) fallback of
  * a BUCKET-partitioned table, the SPJ-wrapped scan advertises the
  * partition SOURCE column — and a row filter `key IN (matched keys)` is
  * NOT a group filter there (the group is bucket(key)): carried rows of
  * replaced files silently vanish, and with a pure-insert MERGE source
  * the IN-list is empty and the whole table is lost. The fallback scan
  * now reports no runtime-filter attributes
  * ([[GraftScan.withoutRuntimeFiltering]]); its contract is to read every
  * planned row. Found by the model checker's seed-7 sequence (round 11). */
class GroupFilterFallbackSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pure-insert SQL MERGE on a bucket-partitioned MoR-fallback table keeps every carried row") {
    val wh = Files.createTempDirectory("graft-gff-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val mor = WriteConfig(retryUnitMs = 1, primaryKey = Seq("id"),
      mergeOnRead = true)
    w.writeTable("main", "t",
      Seq((1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")),
      Merge("upsert"), mor, "l1")
    // outstanding POSITIONAL deletes force the full-group V1 fallback
    w.deleteWhere("main", "t", col("id") <= 5, mor, "dw1")
    // bucket spec evolution + another MoR load + maintenance mirrors the
    // model-checker state that exposed the loss
    cat.loadTable("main", "t").updatePartitionSpec(
      Seq(graft.partition.PartitionHint.bucket(4, "id")))
    w.writeTable("main", "t",
      Seq(Seq((50L, "p50"), (51L, "p51")).toDF("id", "v")),
      Merge("upsert"), mor, "l2")
    try Maintenance.compact(cat.loadTable("main", "t"),
      smallFileBytes = 1L << 20, targetFileBytes = 8L << 20, retryUnitMs = 1)
    catch { case _: ValidationError => () }
    Maintenance.expireSnapshots(cat.loadTable("main", "t"), keepLast = 2,
      retryUnitMs = 1)
    assert(cat.loadTable("main", "t").read().count() == 17)

    spark.conf.set("spark.sql.catalog.ggff",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggff.warehouse", wh)
    Seq((100L, "new1"), (101L, "new2")).toDF("id", "v")
      .createOrReplaceTempView("gff_src")
    def merge(): Unit = spark.sql(
      """MERGE INTO ggff.main.t AS t USING gff_src AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |""".stripMargin)
    // pure-insert pass: every carried row must survive
    merge()
    val t1 = cat.loadTable("main", "t")
    assert(t1.read().count() == 19L,
      "pure-insert merge dropped carried rows")
    // matched pass (same source now matches): updates apply, count holds
    merge()
    val rows = cat.loadTable("main", "t").read()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 19 && rows(100L) == "new1" && rows(6L) == "v6",
      s"matched merge must update in place and carry the rest: ${rows.size}")
  }
}
