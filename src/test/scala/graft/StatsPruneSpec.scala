package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.write._

/** One file pruner for every reader: a SQL-catalog point lookup plans
  * exactly the data files [[StatsPrune]] keeps — the same ones
  * `readPointLookup` reads — by bloom stats on an unpartitioned column
  * and by derived bucket stats on a bucket-partitioned one, and returns
  * the same rows as an unpruned read. */
class StatsPruneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sqlSession(wh: String): SparkSession = {
    val iso = spark.newSession()
    iso.conf.set("spark.sql.catalog.sp", classOf[GraftSparkCatalog].getName)
    iso.conf.set("spark.sql.catalog.sp.warehouse", wh)
    iso
  }

  import PlannedFiles.norm
  private def plannedFiles(df: DataFrame): Set[String] = PlannedFiles.of(df)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("SQL point lookup plans the files readPointLookup picks (bloom, >= 20 files)") {
    val wh = Files.createTempDirectory("graft-sp-bloom-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, bloomColumns = Seq("k"))
    // interleaved keys: every file's [min,max] spans the keyspace, so
    // only the bloom can tell the files apart
    (0 until 24).foreach { b =>
      val batch = (0 until 40).map(i => (i * 24L + b, s"v$b-$i"))
      w.writeTable("main", "t", Seq(batch.toDF("k", "v").coalesce(1)),
        Append, cfg, s"l$b")
    }
    val t = cat.loadTable("main", "t")
    assert(t.metadata.currentFiles.size == 24)
    val probe = 17L * 24 + 5
    val df = sqlSession(wh).sql(s"SELECT k, v FROM sp.main.t WHERE k = $probe")
    val planned = plannedFiles(df)
    val lookup = t.readPointLookup("k", probe)
    assert(planned == plannedFiles(lookup))
    assert(planned.size == 1, s"planned ${planned.size} of 24 files")
    assert(rows(df) == rows(t.read().filter($"k" === probe)))
    assert(rows(df) == Seq(s"$probe|v5-17"))
    // a value no file admits plans no file at all (a string filter, which
    // no exact claim tier takes)
    val absent = sqlSession(wh).sql("SELECT k, v FROM sp.main.t WHERE v = 'zzz'")
    assert(plannedFiles(absent).isEmpty)
    assert(absent.collect().isEmpty)
  }

  test("SQL point lookup on a bucket(4)-partitioned table plans only that bucket's files") {
    val wh = Files.createTempDirectory("graft-sp-bucket-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(graft.partition.PartitionHint.bucket(4, "user_id")))
    (0 until 3).foreach { b =>
      val batch = (0 until 200).map(i => (i * 3L + b, s"e$b-$i"))
      w.writeTable("main", "ev", Seq(batch.toDF("user_id", "e")), Append,
        cfg, s"l$b")
    }
    val t = cat.loadTable("main", "ev")
    val files = t.metadata.currentFiles
    val bucketCol = t.metadata.partitionSpec.head.name
    val probe = 301L
    // the bucket holding the probe, read off the file that holds its row
    val holder = t.read().filter($"user_id" === probe)
      .select(org.apache.spark.sql.functions.input_file_name()).as[String]
      .collect().map(norm).toSet
    assert(holder.size == 1)
    val bucket = files.find(f => holder.contains(norm(f.path))).get
      .stats(bucketCol).min.get
    val sameBucket = files.filter(_.stats(bucketCol).min.contains(bucket))
      .map(f => norm(f.path)).toSet
    assert(sameBucket.size < files.size)

    val df = sqlSession(wh)
      .sql(s"SELECT user_id, e FROM sp.main.ev WHERE user_id = $probe")
    assert(plannedFiles(df) == sameBucket,
      s"planned ${plannedFiles(df).size} files, bucket $bucket holds ${sameBucket.size}")
    assert(rows(df) == rows(t.read().filter($"user_id" === probe)))
    assert(rows(df) == Seq(s"$probe|e1-100"))
  }

  test("readPointLookup plans exactly the file the SQL WHERE k = v plans") {
    val wh = Files.createTempDirectory("graft-sp-facade-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    // disjoint key ranges: min/max alone tells the files apart
    (0 until 6).foreach { b =>
      val batch = (0 until 30).map(i => (b * 100L + i, s"v$b-$i"))
      w.writeTable("main", "t", Seq(batch.toDF("k", "v").coalesce(1)),
        Append, WriteConfig(retryUnitMs = 1), s"l$b")
    }
    val t = cat.loadTable("main", "t")
    val probe = 312L
    val sql = sqlSession(wh).sql(s"SELECT k, v FROM sp.main.t WHERE k = $probe")
    val lookup = t.readPointLookup("k", probe)
    assert(plannedFiles(sql).size == 1)
    assert(plannedFiles(lookup) == plannedFiles(sql))
    assert(rows(lookup) == rows(sql))
    assert(rows(lookup) == Seq(s"$probe|v3-12"))
  }
}
