package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.pipeline.GraftPipeline
import graft.write._
import scala.jdk.CollectionConverters._

/** The pipeline's `_dlt_*` bookkeeping rows are written and committed on
  * the driver: the file is what a Spark write of the same rows produces,
  * a load pays Spark jobs only for its data, and a ledger probe for an
  * unseen load id is answered from metadata alone. */
class LedgerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-ledger-").toString)

  private val fastCfg = WriteConfig(retryUnitMs = 1)

  /** Job id → description, from the job-start events. */
  private lazy val descriptions = {
    val m = new ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        m.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    })
    m
  }

  /** Descriptions of the Spark jobs `body` runs, counted by job group. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    descriptions // the listener sees every job of the group
    val group = s"ledger-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftTestShim.drainListeners(sc)
    sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
      .map(id => descriptions.getOrDefault(id, ""))
  }

  private def footer(path: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new Configuration()))
    try r.getFooter.getFileMetaData finally r.close()
  }

  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def ledger(cat: GraftCatalog): GraftTable =
    cat.loadTable("main", GraftPipeline.LoadsTable)

  test("a driver-written ledger file matches a Spark-written file of the same schema") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main", "s1", "pipe1")
    p.stage("t", Seq((1L, "a")).toDF("id", "v"), Append, fastCfg)
    p.completeLoad("load-1")
    val m = ledger(cat).metadata
    val driverFile = m.currentFiles.loneElement(_.path)
    val rows = ledger(cat).read().collect().toSeq
    // the engine's Spark write path, same rows, same (table) schema
    val sparkFile = Stager.stage(spark.createDataFrame(rows.asJava, m.schema),
      Files.createTempDirectory("graft-ledger-spark-"), "ref").loneElement(_.path)
    val (d, s) = (footer(driverFile), footer(sparkFile))
    assert(d.getSchema == s.getSchema)
    assert(d.getKeyValueMetaData.get(RowMetadataKey) ==
      s.getKeyValueMetaData.get(RowMetadataKey))
    assert(d.getSchema.getType(Seq("inserted_at"): _*).toString.contains("TIMESTAMP(MICROS,true)"))
    // the staging layout: <loadId>-<uuid8>/part-…parquet under data/
    val rel = ledger(cat).dataDir.relativize(Paths.get(driverFile))
    assert(rel.getNameCount == 2 && rel.getName(0).toString.matches("load-1-[0-9a-f]{8}") &&
      rel.getFileName.toString.matches("part-.*\\.parquet"), rel.toString)
    // stats and the load_id bloom, as the Spark path computes them
    val st = m.currentFiles.head.stats
    assert(st("load_id").min.contains("load-1") && st("load_id").max.contains("load-1"))
    assert(st("load_id").bloom.exists(KeyBloom.mightContain(_, "load-1")))
    assert(st("load_id").bloom == Stager.stage(
      spark.createDataFrame(rows.asJava, m.schema),
      Files.createTempDirectory("graft-ledger-spark-"), "ref",
      bloomColumns = Seq("load_id")).head.stats("load_id").bloom)
    assert(rows.map(_.getAs[String]("load_id")) == Seq("load-1"))
  }

  test("a ledger whose live inserted_at is TIMESTAMP_NTZ gets naive rows (C10)") {
    val cat = freshCatalog()
    val naive = StructType(GraftPipeline.LoadsSchema.fields.map(f =>
      if (f.name == "inserted_at") f.copy(dataType = TimestampNTZType) else f))
    new GraftWriter(cat).writeTable("main", GraftPipeline.LoadsTable,
      Seq(spark.createDataFrame(java.util.List.of(Row("old", "s1", 0L,
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5), null)), naive)),
      Append, fastCfg, "old")
    val p = new GraftPipeline(cat, "main", "s1", "pipe1")
    val before = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).withNano(0)
    p.stage("t", Seq((1L, "a")).toDF("id", "v"), Append, fastCfg)
    p.completeLoad("load-1")
    val after = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).plusSeconds(1)
    val t = ledger(cat)
    assert(t.metadata.schema("inserted_at").dataType == TimestampNTZType)
    val file = t.metadata.currentFiles.map(_.path).filterNot(_.contains("/old-")).loneElement(identity)
    assert(footer(file).getSchema.getType(Seq("inserted_at"): _*).toString
      .contains("TIMESTAMP(MICROS,false)"))
    val got = p.loads().collect().map(r =>
      r.getAs[String]("load_id") -> r.getAs[java.time.LocalDateTime]("inserted_at")).toMap
    assert(got("old") == java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5))
    // the session time zone (UTC) wall clock of the commit
    assert(!got("load-1").isBefore(before) && got("load-1").isBefore(after), got("load-1"))
  }

  test("ledger probes plan one file of eight; an unseen id plans none") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main")
    val ids = (1 to 8).map(i => java.util.UUID.nameUUIDFromBytes(Array(i.toByte)).toString)
    ids.zipWithIndex.foreach { case (id, i) =>
      p.stage("t", Seq((i.toLong, s"v$i")).toDF("id", "v"), Append, fastCfg)
      p.completeLoad(id)
    }
    val t = ledger(cat)
    val m = t.metadata
    assert(m.currentFiles.size == 8)
    ids.foreach { id =>
      assert(StatsPrune.files(m, Seq(EqualTo("load_id", id))).size == 1)
      assert(p.loadRecordExists(id))
    }
    val unseen = java.util.UUID.nameUUIDFromBytes("unseen".getBytes("UTF-8")).toString
    assert(StatsPrune.files(m, Seq(EqualTo("load_id", unseen))).isEmpty)
    assert(jobsOf(assert(!p.loadRecordExists(unseen))).isEmpty)
    assert(p.loads().count() == 8)
    // driver staging leaves nothing unreferenced behind
    assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
    assert(Maintenance.vacuumOrphans(cat.loadTable("main", "t"), 0).isEmpty)
  }

  test("a plain append load runs one Spark job: its data write") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main")
    // the first load creates both tables; later loads find them
    (1 to 3).foreach { i =>
      val jobs = jobsOf {
        p.stage("t", Seq((i.toLong, s"v$i")).toDF("id", "v"), Append, fastCfg)
        p.completeLoad(s"load-$i")
      }
      assert(jobs == Seq(s"graft.stage:write load-$i"), jobs)
    }
    assert(p.loads().count() == 3)
  }

  test("a copy-on-write upsert load runs no job for its ledger row") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main")
    val w = new GraftWriter(cat)
    val cfg = fastCfg.copy(primaryKey = Seq("id"))
    def batch(ids: Seq[Long], tag: String): DataFrame =
      ids.map(i => (i, s"$tag$i")).toDF("id", "v")
    p.stage("a", batch(1L to 20L, "v"), Merge("upsert"), cfg)
    p.completeLoad("init")
    w.writeTable("main", "b", Seq(batch(1L to 20L, "v")), Merge("upsert"), cfg, "init")
    // the same upsert through the pipeline and straight through the writer
    // on an identical table: the pipeline adds no job
    val viaPipeline = jobsOf {
      p.stage("a", batch(Seq(3L, 21L), "u"), Merge("upsert"), cfg)
      p.completeLoad("up-1")
    }
    val direct = jobsOf(w.writeTable("main", "b", Seq(batch(Seq(3L, 21L), "u")),
      Merge("upsert"), cfg, "up-1"))
    assert(viaPipeline.size == direct.size, s"$viaPipeline vs $direct")
    assert(!viaPipeline.exists(_.startsWith("graft.stage:bloom")), viaPipeline)
    assert(p.loadRecordExists("up-1"))
    assert(cat.loadTable("main", "a").read().orderBy("id").collect().toSeq ==
      cat.loadTable("main", "b").read().orderBy("id").collect().toSeq)
  }

  test("storeSchema and storeState run no write job") {
    val cat = freshCatalog()
    val p = new GraftPipeline(cat, "main", "s1", "pipe1")
    Seq(
      jobsOf(assert(p.storeSchema("""{"v":1}"""))),
      jobsOf(assert(p.storeSchema("""{"v":2}"""))),
      jobsOf(p.storeState("""{"step":1}""", "load-1")),
      jobsOf(p.storeState("""{"step":2}""", "load-2"))
    ).foreach(jobs => assert(!jobs.exists(_.startsWith("graft.stage:")), jobs))
    assert(p.getStoredSchema.get.getAs[Long]("version") == 2L)
    assert(p.getStoredState.get.getAs[String]("state") == """{"step":2}""")
    Seq(GraftPipeline.VersionTable, GraftPipeline.StateTable).foreach { name =>
      val t = cat.loadTable("main", name)
      assert(t.metadata.currentFiles.size == 2)
      assert(Maintenance.vacuumOrphans(t, 0).isEmpty)
    }
  }

  private implicit class Lone[A](xs: Seq[A]) {
    def loneElement[B](f: A => B): B = { assert(xs.size == 1, xs); f(xs.head) }
  }
}
