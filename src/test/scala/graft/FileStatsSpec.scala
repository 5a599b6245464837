package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.partition.{PartitionHint, Transforms}
import graft.pipeline.{GraftPipeline, MaintenancePolicy}
import graft.write._
import scala.jdk.CollectionConverters._

/** A staged file's stats are folded while its rows are written
  * ([[FileStatsFold]]): they equal what reading the file back computes —
  * the `groupBy(input_file_name())` min/max, `bit_or` bloom and
  * `hll_sketch_agg` passes and the partition-directory decoding below,
  * kept here as the reference — and no Spark job reads a staged file
  * back. */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    graft.functions.GraftFunctions.register(s) // the bucket transform
    s
  }
  import spark.implicits._

  /** Read-back formulations of a staged file's stats. */
  private object Reference {
    /** Order-preserving typed stat expression: temporal types as epoch
      * longs, everything else as-is; min/max are cast to string after
      * aggregation. */
    def statColumn(c: Column, dt: DataType): Option[Column] = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | _: DecimalType | StringType => Some(c)
      case DateType => Some(datediff(c, lit("1970-01-01")))
      case TimestampType | TimestampNTZType => Some(unix_micros(c.cast(TimestampType)))
      case _ => None
    }

    /** `input_file_name()` is a URL-encoded URI; staged paths are literal. */
    def normalize(p: String): String =
      try {
        val u = new java.net.URI(p)
        if (u.getScheme != null && u.getPath != null) u.getPath else p
      } catch {
        case _: java.net.URISyntaxException => p.stripPrefix("file://").stripPrefix("file:")
      }

    /** Per file: row count and min/max/nulls of every data and derived
      * column. */
    def stats(files: Seq[String], schema: StructType, spec: Seq[PartitionFieldSpec]):
        Map[String, (Long, Map[String, ColumnStats])] = {
      val base = spark.read.schema(schema).parquet(files: _*)
      val withDerived = spec.foldLeft(base) { (d, s) =>
        d.withColumn(s.name, Transforms.expression(s, schema(s.source).dataType))
      }
      val statAggs = withDerived.schema.fields.toSeq.flatMap { f =>
        statColumn(col(f.name), f.dataType).map { sc =>
          f.name -> Seq(
            min(sc).cast(StringType).as(s"min__${f.name}"),
            max(sc).cast(StringType).as(s"max__${f.name}"),
            sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls__${f.name}"))
        }
      }
      val aggCols = count(lit(1)).as("__rows") +: statAggs.flatMap(_._2)
      withDerived.groupBy(input_file_name().as("__file"))
        .agg(aggCols.head, aggCols.tail: _*).collect().map { r =>
          normalize(r.getAs[String]("__file")) -> (r.getAs[Long]("__rows") ->
            statAggs.map { case (name, _) =>
              name -> ColumnStats(Option(r.getAs[String](s"min__$name")),
                Option(r.getAs[String](s"max__$name")),
                Option(r.getAs[Long](s"nulls__$name")))
            }.toMap)
        }.toMap
    }

    private def canonicalExpr(name: String, dt: DataType): Column = dt match {
      case DateType => datediff(col(name), lit("1970-01-01")).cast("string")
      case TimestampType => unix_micros(col(name)).cast("string")
      case _ => col(name).cast("string")
    }

    /** Per file and bloom column: the `bit_or` of each non-null row's k
      * bit masks. (The deleted read-back also set the bits of a null key:
      * `xxhash64` skips null inputs, so a null hashed to the seed. The
      * fold, like the driver-side ledger bloom before it, skips nulls,
      * which no equality probe can match.) */
    def blooms(files: Seq[String], schema: StructType, columns: Seq[String]):
        Map[String, Map[String, String]] = {
      val n = KeyBloom.NumBits.toLong
      val withPos = columns.foldLeft(spark.read.schema(schema).parquet(files: _*)
          .select(columns.map(col): _*).withColumn("__file", input_file_name())) { (d, c) =>
        val s = canonicalExpr(c, schema(c).dataType)
        val p1 = pmod(xxhash64(s), lit(n))
        val p2 = pmod(xxhash64(s, lit(1L)), lit(n))
        (0 until KeyBloom.NumHashes).foldLeft(d) { (dd, i) =>
          dd.withColumn(s"__bp_${c}_$i",
            when(col(c).isNotNull, pmod(p1 + lit(i.toLong) * p2, lit(n))))
        }
      }
      val aggs = columns.flatMap(c => (0 until KeyBloom.NumLongs).map { j =>
        bit_or((0 until KeyBloom.NumHashes).map { i =>
          expr(s"CASE WHEN `__bp_${c}_$i` DIV 64 = $j " +
            s"THEN shiftleft(1L, CAST(`__bp_${c}_$i` % 64 AS INT)) ELSE 0L END")
        }.reduce[Column](_.bitwiseOR(_))).as(s"__bloom__${c}__$j")
      })
      withPos.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
        normalize(r.getAs[String]("__file")) -> columns.map { c =>
          c -> KeyBloom.encode((0 until KeyBloom.NumLongs).map { j =>
            val v = r.getAs[Any](s"__bloom__${c}__$j")
            if (v == null) 0L else v.asInstanceOf[Long]
          })
        }.toMap
      }.toMap
    }

    /** Per file and sketch column: `hll_sketch_agg`. */
    def sketches(files: Seq[String], schema: StructType, columns: Seq[String]):
        Map[String, Map[String, String]] = {
      val aggs = columns.map(c => base64(hll_sketch_agg(col(c))).as(s"__sk__$c"))
      spark.read.schema(schema).parquet(files: _*).select(columns.map(col): _*)
        .groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          normalize(r.getAs[String]("__file")) ->
            columns.map(c => c -> r.getAs[String](s"__sk__$c")).toMap
        }.toMap
    }

    /** Derived values decoded from the value-exact directory names, where
      * the decoding is exact; None otherwise. A string source's identity
      * and truncate values are percent-encoded there. */
    def fromPaths(files: Seq[String], schema: StructType, spec: Seq[PartitionFieldSpec]):
        Option[Map[String, Map[String, ColumnStats]]] = {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val derivedType: Map[String, Option[DataType]] = spec.map { s =>
        val srcType = schema(s.source).dataType
        s.name -> (s.transform match {
          case "identity" => srcType match {
            case IntegerType | LongType | StringType | DateType => Some(srcType)
            case _ => None
          }
          case "year" | "bucket" => Some(IntegerType)
          case "month" | "hour" => Some(StringType)
          case "day" => Some(DateType)
          case "truncate" => srcType match {
            case StringType | IntegerType | LongType => Some(srcType)
            case _ => None
          }
          case _ => None
        })
      }.toMap
      if (derivedType.values.exists(_.isEmpty)) return None
      val seg = raw"__graft_p_([^/=]+)=([^/]*)".r
      Some(files.map { f =>
        val byName = seg.findAllMatchIn(f).map(m =>
          m.group(1) -> ExternalCatalogUtils.unescapePathName(m.group(2))).toMap
        f -> spec.map { s =>
          val v = byName.get(s.name).filter(v =>
            v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME && v.nonEmpty)
            .getOrElse(return None)
          val canon = derivedType(s.name).get match {
            case DateType => java.time.LocalDate.parse(v).toEpochDay.toString
            case StringType if s.transform == "identity" || s.transform == "truncate" =>
              java.net.URLDecoder.decode(v, java.nio.charset.StandardCharsets.UTF_8)
            case _ => v
          }
          s.name -> ColumnStats(Some(canon), Some(canon), Some(0L))
        }.toMap
      }.toMap)
    }
  }

  /** Estimate of the union of `sketches`, as `ColumnStatsSupport` reads it. */
  private def estimate(sketches: Iterable[String]): Double = {
    val u = new org.apache.datasketches.hll.Union(12)
    sketches.foreach(s => u.update(org.apache.datasketches.hll.HllSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(java.util.Base64.getMimeDecoder.decode(s)))))
    u.getEstimate
  }

  /** `staged` carries exactly the stats the read-back passes compute. */
  private def assertReferenceStats(staged: Seq[DataFile], schema: StructType,
      spec: Seq[PartitionFieldSpec], bloomCols: Seq[String], sketchCols: Seq[String]): Unit = {
    assert(staged.nonEmpty)
    val files = staged.map(_.path)
    val ref = Reference.stats(files, schema, spec)
    val blooms = bloomCols.filter(c => KeyBloom.supportsBloom(schema(c).dataType))
    val sketches = sketchCols.filter(c => FileStatsFold.supportsSketch(schema(c).dataType))
    val refBlooms = if (blooms.isEmpty) Map.empty[String, Map[String, String]]
      else Reference.blooms(files, schema, blooms)
    val refSketches = if (sketches.isEmpty) Map.empty[String, Map[String, String]]
      else Reference.sketches(files, schema, sketches)
    assert(ref.keySet == files.toSet)
    staged.foreach { f =>
      val (rows, st) = ref(f.path)
      assert(f.rowCount == rows && rows > 0, f.path)
      assert(f.sizeBytes == Files.size(java.nio.file.Paths.get(f.path)))
      st.foreach { case (c, cs) =>
        val got = f.stats.get(c)
        assert(got.map(g => (g.min, g.max, g.nullCount)) ==
          Some((cs.min, cs.max, cs.nullCount)), s"$c in ${f.path}: $got vs $cs")
      }
      blooms.foreach(c => assert(f.stats(c).bloom == Some(refBlooms(f.path)(c)), s"$c bloom of ${f.path}"))
      sketches.foreach(c => assert(
        estimate(f.stats(c).hll.toSeq) == estimate(Seq(refSketches(f.path)(c))), s"$c sketch"))
    }
    sketches.foreach(c => assert(estimate(staged.map(_.stats(c).hll.get)) ==
      estimate(files.map(refSketches(_)(c))), s"$c union"))
    Reference.fromPaths(files, schema, spec).foreach(_.foreach { case (f, derived) =>
      val got = staged.find(_.path == f).get.stats
      derived.foreach { case (c, cs) => assert(got(c) == cs, s"$c from the path of $f") }
    })
  }

  private def stageDir(): Path = Files.createTempDirectory("graft-filestats-")

  private def keyed(k: DataType, ks: Seq[Any]): DataFrame = {
    val schema = StructType(Seq(StructField("k", k), StructField("id", LongType),
      StructField("s", StringType)))
    // each key value repeats, with ids and strings spread across files
    val rows = (0 until 3).flatMap(r => ks.zipWithIndex.map { case (v, i) =>
      Row(v, (r * 100 + i).toLong, if (i % 4 == 3) null else s"s ${i % 3} ü%")
    })
    spark.createDataFrame(rows.asJava, schema)
  }

  private val hintsByType: Seq[(String, DataType, Seq[Any], Seq[PartitionHint])] = Seq(
    ("int", IntegerType, Seq(-7, 0, 3, 15, 123456, null),
      Seq(PartitionHint.identity("k"), PartitionHint.bucket(4, "k"),
        PartitionHint.truncate(10, "k"))),
    ("long", LongType, Seq(-9000000000L, 0L, 5L, 77L, 1234567890123L, null),
      Seq(PartitionHint.identity("k"), PartitionHint.bucket(4, "k"),
        PartitionHint.truncate(100, "k"))),
    ("string", StringType, Seq("a b", "100%", "x/y=z", " %2F", "", null),
      Seq(PartitionHint.identity("k"), PartitionHint.bucket(4, "k"),
        PartitionHint.truncate(2, "k"))),
    // non-ASCII keys: the staged directory names stay ASCII (the local
    // file system rejects non-ASCII names unless the JVM runs in a UTF-8
    // locale)
    ("non-ASCII string", StringType, Seq("naïve", "日本語", "ü", "Ωmega"),
      Seq(PartitionHint.identity("k"), PartitionHint.bucket(4, "k"),
        PartitionHint.truncate(2, "k"))),
    ("date", DateType, Seq(java.time.LocalDate.of(2023, 12, 31),
      java.time.LocalDate.of(2024, 1, 1), java.time.LocalDate.of(2024, 2, 29),
      java.time.LocalDate.of(1969, 7, 20), null),
      Seq(PartitionHint.identity("k"), PartitionHint.year("k"), PartitionHint.month("k"),
        PartitionHint.day("k"), PartitionHint.bucket(4, "k"))),
    ("timestamp", TimestampType, Seq(java.time.Instant.parse("2024-01-01T00:00:00Z"),
      java.time.Instant.parse("2024-01-01T23:59:59.999999Z"),
      java.time.Instant.parse("1969-12-31T23:00:00Z"),
      java.time.Instant.parse("2024-06-15T12:34:56.500Z"), null),
      Seq(PartitionHint.identity("k"), PartitionHint.year("k"), PartitionHint.month("k"),
        PartitionHint.day("k"), PartitionHint.hour("k"), PartitionHint.bucket(4, "k"))),
    ("double", DoubleType, Seq(1.5, -0.25, 1e10, 3.0, 1.0e-5, null),
      Seq(PartitionHint.identity("k"))),
    ("decimal", DecimalType(10, 2), Seq(new java.math.BigDecimal("12.50"),
      new java.math.BigDecimal("-3.07"), new java.math.BigDecimal("0.00"),
      new java.math.BigDecimal("99999999.99"), null),
      Seq(PartitionHint.identity("k"), PartitionHint.bucket(4, "k"),
        PartitionHint.truncate(50, "k")))
  )

  hintsByType.foreach { case (name, dt, ks, hints) =>
    test(s"$name partitions: folded stats, blooms and sketches equal the read-back") {
      val df = keyed(dt, ks)
      val spec = Transforms.buildSpec(hints, df.schema)
      val cols = Seq("k", "id", "s")
      val staged = Stager.stage(df, stageDir(), "fs", spec,
        bloomColumns = cols, sketchColumns = cols)
      // value-exact: one file per partition tuple, the null key's included
      assert(staged.size == df.select(spec.map(s =>
        Transforms.expression(s, dt)): _*).distinct().count())
      assert(spec.forall(s => staged.forall(_.stats.contains(s.name))))
      assertReferenceStats(staged, df.schema, spec, cols, cols)
    }
  }

  test("a null partition value folds to nulls only") {
    val df = keyed(IntegerType, Seq(null, 4))
    val spec = Transforms.buildSpec(Seq(PartitionHint.bucket(4, "k")), df.schema)
    val staged = Stager.stage(df, stageDir(), "fs", spec, bloomColumns = Seq("k"))
    val nullFile = staged.find(_.path.contains("__HIVE_DEFAULT_PARTITION__")).get
    assert(nullFile.stats("k_bucket_4") == ColumnStats(None, None, Some(3L)))
    assertReferenceStats(staged, df.schema, spec, Seq("k"), Nil)
  }

  test("maxRecordsPerFile rolls keep a fold per file") {
    val df = keyed(LongType, Seq(1L, 2L, 3L, 4L))
    val spec = Transforms.buildSpec(Seq(PartitionHint.bucket(2, "k")), df.schema)
    Seq(spec, Nil).foreach { sp =>
      val staged = Stager.stage(df.repartition(1), stageDir(), "fs", sp,
        bloomColumns = Seq("id"), sketchColumns = Seq("s"), maxRecordsPerFile = 2)
      assert(staged.size >= 6 && staged.forall(_.rowCount <= 2), staged.map(_.rowCount))
      assertReferenceStats(staged, df.schema, sp, Seq("id"), Seq("s"))
    }
  }

  test("an empty output keeps no file") {
    val df = keyed(IntegerType, Seq(1)).filter(lit(false))
    Seq(Nil, Transforms.buildSpec(Seq(PartitionHint.identity("k")), df.schema)).foreach { sp =>
      val dir = stageDir()
      assert(Stager.stage(df, dir, "empty", sp, bloomColumns = Seq("id")).isEmpty)
      assert(PathIO.walk(dir) == Seq(dir), PathIO.walk(dir))
    }
  }

  private def sqlCatalog(name: String): GraftCatalog = {
    val wh = Files.createTempDirectory(s"graft-fs-$name-").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    new GraftCatalog(spark, wh)
  }

  test("SQL row-level writes to a partitioned table fold the same stats") {
    val cat = sqlCatalog("gfsp")
    val cfg = WriteConfig(retryUnitMs = 1, bloomColumns = Seq("id"),
      sketchColumns = Seq("s"),
      partitions = Seq(PartitionHint.bucket(4, "id"), PartitionHint.day("ts")))
    val df = (1 to 40).map(i => (i.toLong, s"v ${i % 7}",
      java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")
        .plusSeconds(i * 7200L)))).toDF("id", "s", "ts")
    new GraftWriter(cat).writeTable("main", "t", Seq(df), Append, cfg, "l1")
    val before = cat.loadTable("main", "t").metadata.currentFiles.map(_.path).toSet
    spark.sql("UPDATE gfsp.main.t SET s = concat(s, '!') WHERE id % 3 = 0")
    val m = cat.loadTable("main", "t").metadata
    val added = m.currentFiles.filterNot(f => before.contains(f.path))
    assert(added.nonEmpty)
    assertReferenceStats(added, m.schema, m.partitionSpec, Seq("id"), Seq("s"))
    assert(spark.sql("SELECT count(*) FROM gfsp.main.t WHERE s LIKE '%!'")
      .collect()(0).getLong(0) == 13L)
  }

  test("SQL UPDATE writes int64 micros timestamps with stats and a bloom") {
    val cat = sqlCatalog("gfsts")
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, bloomColumns = Seq("id"))
    val df = (1 to 30).map(i => (i.toLong, s"v$i",
      java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")
        .plusSeconds(i * 60L)))).toDF("id", "v", "ts")
    // interleaved ids: every file's [min, max] spans the keyspace
    (0 until 3).foreach(b => w.writeTable("main", "t",
      Seq(df.filter($"id" % 3 === b).coalesce(1)), Append, cfg, s"l$b"))
    val before = cat.loadTable("main", "t").metadata.currentFiles.map(_.path).toSet
    spark.sql("UPDATE gfsts.main.t SET v = concat(v, '!') WHERE id = 7")
    val t = cat.loadTable("main", "t")
    assert(t.metadata.snapshots.last.operation == "update")
    val rewritten = t.metadata.currentFiles.filterNot(f => before.contains(f.path))
    assert(rewritten.size == 1)
    val f = rewritten.head
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.path), new Configuration()))
    val ts = try r.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*) finally r.close()
    assert(ts.toString.contains("int64 ts (TIMESTAMP(MICROS,true))"), ts.toString)
    assert(f.stats("ts").min.contains("1709251260000000") &&
      f.stats("ts").max.contains("1709252880000000"), f.stats("ts"))
    assert(f.stats("id").bloom.isDefined, f.stats)
    // 8 lies in the rewritten file's [min, max]; only its bloom excludes it
    Seq(7L, 8L).foreach { k =>
      val lookup = t.readPointLookup("id", k)
      assert(PlannedFiles.of(lookup).size == 1, s"$k: ${PlannedFiles.of(lookup)}")
    }
    assert(t.readPointLookup("id", 7L).select("v").as[String].collect().toSeq == Seq("v7!"))
  }

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
    descriptions
    val group = s"file-stats-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftTestShim.drainListeners(sc)
    sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
      .map(id => descriptions.getOrDefault(id, ""))
  }

  test("blooms and sketches add no Spark job to a partitioned append") {
    val cat = new GraftCatalog(spark, stageDir().toString)
    val w = new GraftWriter(cat)
    val base = WriteConfig(retryUnitMs = 1, partitions = Seq(PartitionHint.bucket(4, "id")))
    val batch = (1 to 200).map(i => (i.toLong, s"v${i % 13}")).toDF("id", "v")
    def appends(table: String, cfg: WriteConfig): Seq[Seq[String]] =
      (1 to 2).map(i => jobsOf(w.writeTable("main", table, Seq(batch), Append, cfg, s"l$i")))
    val plain = appends("plain", base)
    val stats = appends("stats", base.copy(bloomColumns = Seq("id", "v"),
      sketchColumns = Seq("id", "v")))
    assert(stats.map(_.size) == plain.map(_.size), s"$stats vs $plain")
    assert(!stats.flatten.exists(_.matches("graft\\.stage:(stats|bloom|sketch).*")), stats)
    val f = cat.loadTable("main", "stats").metadata.currentFiles.head
    assert(f.stats("id").bloom.isDefined && f.stats("v").hll.isDefined)
  }

  test("ledger compaction under a maintenance policy reads no file back") {
    val cat = new GraftCatalog(spark, stageDir().toString)
    val p = new GraftPipeline(cat, "main",
      policy = MaintenancePolicy(compactEveryLoads = 2, retryUnitMs = 1))
    val jobs = (1 to 4).flatMap { i =>
      jobsOf {
        p.stage("t", Seq((i.toLong, s"v$i")).toDF("id", "v"), Append,
          WriteConfig(retryUnitMs = 1))
        p.completeLoad(s"load-$i")
      }
    }
    val ledger = cat.loadTable("main", GraftPipeline.LoadsTable).metadata
    assert(ledger.snapshots.exists(_.operation == "compact"), ledger.snapshots.map(_.operation))
    assert(!jobs.exists(_.startsWith("graft.stage:bloom")), jobs)
    (1 to 4).foreach(i => assert(p.loadRecordExists(s"load-$i")))
    assert(ledger.currentFiles.forall(_.stats("load_id").bloom.isDefined))
  }
}
