package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.iceberg.IcebergInterop
import graft.write._

/** Iceberg v2 on-disk interop: export writes a spec-exact metadata tree
  * (JSON + Avro manifests), import reads one back; the two directions
  * verify each other through the real bytes, and the spec constants
  * (field ids, metadata keys) are pinned against the PUBLIC Iceberg
  * table spec so drift fails loudly. */
class IcebergInteropSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-ice-").toString)

  test("export -> import round-trip preserves content across commits and evolution") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1)
    w.writeTable("main", "t",
      Seq(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")),
      Append, cfg, "l1")
    // second commit EVOLVES the schema (adds a column): the export must
    // carry the current schema and the import must null-fill stragglers
    w.writeTable("main", "t",
      Seq(Seq((3L, "c", 3.5, "x")).toDF("id", "name", "score", "tag")),
      Append, cfg, "l2")
    val t = cat.loadTable("main", "t")
    val mdPath = IcebergInterop.exportTable(t, nowMs = 1700000000000L)
    assert(Files.exists(mdPath))
    val back = IcebergInterop.importTable(spark, t.dir.resolve("iceberg").toString)
    val expect = t.read().select("id", "name", "score", "tag")
      .collect().map(_.toSeq).toSet
    val got = back.select("id", "name", "score", "tag")
      .collect().map(_.toSeq).toSet
    assert(got == expect, s"round-trip mismatch: $got vs $expect")
    assert(back.schema("tag").nullable)
    assert(back.filter(col("tag").isNull).count() == 2, "stragglers null-fill")
  }

  test("per-snapshot schemas export: time travel across an evolution boundary sees the old schema") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1)
    w.writeTable("main", "t",
      Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "name")), Append, cfg, "l1")
    w.writeTable("main", "t",
      Seq(Seq((3L, "c", 9.5)).toDF("id", "name", "score")), Append, cfg, "l2")
    val t = cat.loadTable("main", "t")
    IcebergInterop.exportTable(t, nowMs = 1700000000000L)
    val tree = t.dir.resolve("iceberg")
    val md = org.json4s.jackson.JsonMethods.parse(
      Files.readString(tree.resolve("metadata").resolve("v1.metadata.json")))
    import org.json4s._
    // one Iceberg schema per graft schema version, current pointing at
    // the evolved one
    val schemas = (md \ "schemas").asInstanceOf[JArray].arr
    assert(schemas.size == 2, s"expected 2 schemas, got ${schemas.size}")
    val ids = schemas.map(s => (s \ "schema-id") match {
      case JInt(i) => i.toInt
      case other => fail(s"bad schema-id $other")
    }).toSet
    assert(ids == Set(1, 2))
    assert((md \ "current-schema-id") == JInt(2))
    // snapshots pin the schema in force when they committed
    val snapSchemaIds = (md \ "snapshots").asInstanceOf[JArray].arr
      .map(s => ((s \ "snapshot-id"), (s \ "schema-id"))).collect {
        case (JInt(sid), JInt(sch)) => sid.toInt -> sch.toInt
      }.toMap
    assert(snapSchemaIds == Map(1 -> 1, 2 -> 2), s"got $snapSchemaIds")
    // field ids are FOREVER: shared columns keep their ids across the
    // schema versions; the added column mints a fresh one
    def fieldIds(s: JValue): Map[String, Int] =
      (s \ "fields").asInstanceOf[JArray].arr.map(f =>
        ((f \ "name"), (f \ "id")) match {
          case (JString(n), JInt(i)) => n -> i.toInt
          case other => fail(s"bad field $other")
        }).toMap
    val v1 = fieldIds(schemas.find(s => (s \ "schema-id") == JInt(1)).get)
    val v2 = fieldIds(schemas.find(s => (s \ "schema-id") == JInt(2)).get)
    assert(v1 == Map("id" -> 1, "name" -> 2))
    assert(v2("id") == 1 && v2("name") == 2 &&
      v2("score") > 2, s"ids must be stable: $v1 vs $v2")
    // name-mapping published (graft parquet carries no embedded ids)
    (md \ "properties" \ "schema.name-mapping.default") match {
      case JString(nm) =>
        assert(nm.contains("\"field-id\"") && nm.contains("score"))
      case other => fail(s"name-mapping missing: $other")
    }
    // import time travel across the boundary serves the OLD schema
    val back1 = IcebergInterop.importTable(spark, tree.toString,
      asOfSnapshotId = Some(1L))
    assert(back1.columns.toSeq == Seq("id", "name"),
      s"snapshot 1 must serve schema v1, got ${back1.columns.toSeq}")
    assert(back1.count() == 2)
    val back2 = IcebergInterop.importTable(spark, tree.toString)
    assert(back2.columns.toSeq == Seq("id", "name", "score"))
    assert(back2.count() == 3)
    // re-export after ANOTHER evolution never reassigns published ids
    w.writeTable("main", "t",
      Seq(Seq((4L, "d", 1.0, true)).toDF("id", "name", "score", "flag")),
      Append, cfg, "l3")
    IcebergInterop.exportTable(cat.loadTable("main", "t"),
      nowMs = 1700000001000L)
    val md2 = org.json4s.jackson.JsonMethods.parse(
      Files.readString(tree.resolve("metadata").resolve("v2.metadata.json")))
    val v3 = fieldIds((md2 \ "schemas").asInstanceOf[JArray].arr
      .find(s => (s \ "schema-id") == JInt(3)).get)
    assert(v3("id") == 1 && v3("name") == 2 && v3("score") == v2("score") &&
      v3("flag") > v2("score"), s"re-export reassigned ids: $v3")
  }

  test("exported Avro manifests carry the spec field ids and metadata keys") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val t = cat.loadTable("main", "t")
    IcebergInterop.exportTable(t)
    val metaDir = t.dir.resolve("iceberg").resolve("metadata")
    val files = PathIO.list(metaDir).map(_.getFileName.toString)
    assert(files.exists(_ == "v1.metadata.json"))
    assert(files.exists(_ == "version-hint.text"))
    assert(files.exists(f => f.startsWith("snap-") && f.endsWith(".avro")))
    assert(files.exists(f => f.endsWith("-m0.avro")))

    // spec pins: manifest-list ids (500s family), entry/data_file ids
    def fid(s: org.apache.avro.Schema.Field): Int =
      s.getObjectProp("field-id").asInstanceOf[Number].intValue
    val ml = IcebergInterop.ManifestListSchema
    assert(fid(ml.getField("manifest_path")) == 500)
    assert(fid(ml.getField("manifest_length")) == 501)
    assert(fid(ml.getField("partition_spec_id")) == 502)
    assert(fid(ml.getField("added_snapshot_id")) == 503)
    assert(fid(ml.getField("content")) == 517)
    assert(fid(ml.getField("sequence_number")) == 515)
    val me = IcebergInterop.ManifestEntrySchema
    assert(fid(me.getField("status")) == 0)
    assert(fid(me.getField("snapshot_id")) == 1)
    assert(fid(me.getField("data_file")) == 2)
    val df = me.getField("data_file").schema()
    assert(fid(df.getField("file_path")) == 100)
    assert(fid(df.getField("file_format")) == 101)
    assert(fid(df.getField("partition")) == 102)
    assert(fid(df.getField("record_count")) == 103)
    assert(fid(df.getField("file_size_in_bytes")) == 104)
    assert(fid(df.getField("content")) == 134)

    // manifest avro key-value metadata the spec requires
    val mPath = PathIO.list(metaDir)
      .find(_.getFileName.toString.endsWith("-m0.avro")).get
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(mPath)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      assert(r.getMetaString("format-version") == "2")
      assert(r.getMetaString("content") == "data")
      assert(r.getMetaString("partition-spec-id") == "0")
      val sj = r.getMetaString("schema")
      assert(sj.contains("\"schema-id\"") && sj.contains("\"fields\""))
    } finally r.close()

    // metadata.json carries the v2-required top-level keys
    val md = Files.readString(metaDir.resolve("v1.metadata.json"))
    Seq("\"format-version\"", "\"table-uuid\"", "\"last-sequence-number\"",
      "\"last-column-id\"", "\"schemas\"", "\"current-schema-id\"",
      "\"partition-specs\"", "\"default-spec-id\"", "\"sort-orders\"",
      "\"current-snapshot-id\"", "\"snapshots\"", "\"manifest-list\"")
      .foreach(k => assert(md.contains(k), s"metadata.json missing $k"))
  }

  test("type mapping round-trips decimal/array/struct/map; refuses unknowns") {
    val s = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("d", DecimalType(10, 2)),
      StructField("a", ArrayType(LongType, containsNull = true)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("st", StructType(Seq(StructField("x", StringType)))),
      StructField("ts", TimestampType),
      StructField("tn", TimestampNTZType),
      StructField("tm", TimeType(TimeType.MICROS_PRECISION))))
    val (json, lastId) = IcebergInterop.toIcebergSchemaJson(s)
    assert(lastId >= s.size, "nested ids must extend past top-level")
    val back = IcebergInterop.fromIcebergSchemaJson(json)
    assert(back("i").dataType == IntegerType && !back("i").nullable)
    assert(back("d").dataType == DecimalType(10, 2))
    assert(back("a").dataType == ArrayType(LongType, containsNull = true))
    assert(back("m").dataType == MapType(StringType, DoubleType))
    assert(back("st").dataType == StructType(Seq(StructField("x", StringType))))
    assert(back("ts").dataType == TimestampType)  // timestamptz
    assert(back("tn").dataType == TimestampNTZType) // timestamp
    assert(back("tm").dataType == TimeType(TimeType.MICROS_PRECISION)) // time
  }

  test("repeated exports build the Iceberg metadata version chain") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1)
    w.writeTable("main", "t", Seq(Seq((1L, "a")).toDF("id", "v")),
      Append, cfg, "l1")
    val p1 = IcebergInterop.exportTable(cat.loadTable("main", "t"),
      nowMs = 1700000000000L)
    assert(p1.getFileName.toString == "v1.metadata.json")
    w.writeTable("main", "t", Seq(Seq((2L, "b")).toDF("id", "v")),
      Append, cfg, "l2")
    val t2 = cat.loadTable("main", "t")
    val p2 = IcebergInterop.exportTable(t2, nowMs = 1700000001000L)
    assert(p2.getFileName.toString == "v2.metadata.json")
    val metaDir = t2.dir.resolve("iceberg").resolve("metadata")
    assert(Files.readString(metaDir.resolve("version-hint.text")).trim == "2")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val md = JsonMethods.parse(Files.readString(p2))
    // both exported snapshots present; the new one carries its parent;
    // metadata-log points back at v1
    val snaps = (md \ "snapshots").asInstanceOf[JArray].arr
    assert(snaps.size == 2, snaps)
    assert((snaps.last \ "parent-snapshot-id") == (snaps.head \ "snapshot-id"))
    val mlog = (md \ "metadata-log").asInstanceOf[JArray].arr
    assert(mlog.size == 1 &&
      mlog.head.\("metadata-file").asInstanceOf[JString].s
        .endsWith("v1.metadata.json"))
    // prior snapshot's manifest list still resolves: import at v1 sees
    // only load 1, import at v2 (current) sees both
    val v1rows = IcebergInterop.importTable(spark, p1.toString).count()
    val v2rows = IcebergInterop.importTable(spark, p2.toString).count()
    assert(v1rows == 1 && v2rows == 2, s"$v1rows / $v2rows")
    // idempotent re-export of the SAME snapshot: replaces, never duplicates
    val p3 = IcebergInterop.exportTable(t2, nowMs = 1700000002000L)
    val md3 = JsonMethods.parse(Files.readString(p3))
    assert((md3 \ "snapshots").asInstanceOf[JArray].arr.size == 2)
  }

  test("importAsTable attaches an Iceberg tree as a live graft table") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1)
    w.writeTable("main", "src",
      Seq(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")),
      Append, cfg, "l1")
    val src = cat.loadTable("main", "src")
    IcebergInterop.exportTable(src)
    // attach into a DIFFERENT catalog — the cross-engine migration shape
    val cat2 = freshCatalog()
    val t = IcebergInterop.importAsTable(cat2, "main", "attached",
      src.dir.resolve("iceberg").toString)
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.rowCount == 3L, "manifest record counts carry into the snapshot")
    // the FULL engine surface applies post-attach: a merge works
    new GraftWriter(cat2).writeTable("main", "attached",
      Seq(Seq((2L, "b2")).toDF("id", "v")), Merge("upsert"), cfg, "l2")
    assert(cat2.loadTable("main", "attached").read()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  /** A table with an outstanding MoR backlog: two trickle upserts leave
    * two equality-delete files at distinct sequences, and a predicate
    * delete leaves a positional-delete file. Expected live content:
    * (1,a2), (3,c) — key 2 predicate-deleted, keys 1/2 upserted. */
  private def morFixture(): (GraftCatalog, GraftTable) = {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1,
      mergeOnRead = true)
    w.writeTable("main", "t",
      Seq(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")),
      Append, cfg, "l1")
    w.writeTable("main", "t",
      Seq(Seq((2L, "b2")).toDF("id", "v")), Merge("upsert"), cfg, "l2")
    w.writeTable("main", "t",
      Seq(Seq((1L, "a2")).toDF("id", "v")), Merge("upsert"), cfg, "l3")
    w.deleteWhere("main", "t", col("id") === 2L, cfg, "l4")
    val t = cat.loadTable("main", "t")
    val snap = t.metadata.currentSnapshot.get
    assert(snap.deletes.size == 2 && snap.posDeletes.nonEmpty,
      s"precondition: ${snap.deletes.size} eq / ${snap.posDeletes.size} pos")
    (cat, t)
  }

  test("merge-on-read backlog round-trips as Iceberg v2 delete files") {
    val (_, t) = morFixture()
    val expect = Set((1L, "a2"), (3L, "c"))
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == expect, "fixture")
    IcebergInterop.exportTable(t)
    val metaDir = t.dir.resolve("iceberg").resolve("metadata")
    // a delete manifest exists, and the manifest list carries a
    // content=1 entry for it
    assert(PathIO.list(metaDir).exists(_.getFileName.toString.endsWith("-m1.avro")))
    // the imported content equals the merged read — the delete at seq 2
    // must kill (2,b) but not (2,b2); the delete at seq 3 must kill
    // (1,a) but not (1,a2); the positional delete kills (2,b2)
    val back = IcebergInterop.importTable(spark, t.dir.resolve("iceberg").toString)
    assert(back.select("id", "v").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet == expect)
    // bare-path import surface refuses: raw paths would resurrect rows
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.importFiles(t.dir.resolve("iceberg").toString)
    }
    assert(e.getMessage.contains("importTable"), e.getMessage)
  }

  test("exported delete files carry the spec field ids") {
    val (_, t) = morFixture()
    IcebergInterop.exportTable(t)
    def fid(s: org.apache.avro.Schema.Field): Int =
      s.getObjectProp("field-id").asInstanceOf[Number].intValue
    // reserved position-delete ids (spec "Position Delete Files")
    val pd = IcebergInterop.PosDeleteAvroSchema
    assert(fid(pd.getField("file_path")) == 2147483546L.toInt ||
      pd.getField("file_path").getObjectProp("field-id")
        .asInstanceOf[Number].longValue == 2147483546L)
    assert(pd.getField("pos").getObjectProp("field-id")
      .asInstanceOf[Number].longValue == 2147483545L)
    // equality delete file: key field carries the SCHEMA's field id, and
    // the manifest entry's equality_ids names it (field-id 135)
    val me = IcebergInterop.ManifestEntrySchema
    val dfs = me.getField("data_file").schema()
    assert(fid(dfs.getField("equality_ids")) == 135)
    val topIds = IcebergInterop.topLevelFieldIds(t.metadata.schema)
    assert(topIds("id") == 1 && topIds("v") == 2)
    // the emitted schema JSON agrees with topLevelFieldIds (the helper
    // mirrors toIcebergSchemaJson's assignment order)
    val (json, _) = IcebergInterop.toIcebergSchemaJson(t.metadata.schema)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fields = (JsonMethods.parse(json) \ "fields").asInstanceOf[JArray].arr
    fields.foreach { f =>
      val n = (f \ "name").asInstanceOf[JString].s
      assert((f \ "id") == JInt(topIds(n)), s"field-id drift for $n")
    }
    // the written eq-delete Avro file embeds the key's schema field id
    val dataDir = t.dir.resolve("iceberg").resolve("data")
    val eqFile = PathIO.list(dataDir)
      .find(_.getFileName.toString.startsWith("delete-eq-")).get
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(eqFile)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val f = r.getSchema.getField("id")
      assert(f.getObjectProp("field-id").asInstanceOf[Number].intValue == 1)
    } finally r.close()
  }

  test("export refuses a delete backlog past the row threshold") {
    val (_, t) = morFixture()
    spark.conf.set(IcebergInterop.ExportDeleteMaxRowsKey, "0")
    try {
      val e = intercept[IllegalArgumentException] {
        IcebergInterop.exportTable(t)
      }
      assert(e.getMessage.contains("applyDeletes"), e.getMessage)
    } finally spark.conf.unset(IcebergInterop.ExportDeleteMaxRowsKey)
    // applying deletes physically clears the backlog and export proceeds
    Maintenance.applyDeletes(t, retryUnitMs = 1)
    val t2 = t // loadTable path refreshes metadata internally on read
    IcebergInterop.exportTable(t2)
    val back = IcebergInterop.importTable(spark,
      t2.dir.resolve("iceberg").toString)
    assert(back.select("id", "v").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet == Set((1L, "a2"), (3L, "c")))
  }

  test("imports an EXTERNAL writer's tree: parquet delete files, URI paths, seq inheritance") {
    // hand-build the tree the way a Spark+Iceberg writer would lay it
    // out: parquet DATA and parquet DELETE files (not our Avro),
    // file:// URIs everywhere, and ADDED entries with NULL sequence
    // numbers that must inherit the manifest-list sequence (v2
    // inheritance) — none of which our own exporter produces
    import org.apache.avro.generic.{GenericData, GenericRecord}
    val root = Files.createTempDirectory("graft-ext-ice-")
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    def onePart(dir: java.nio.file.Path, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
      PathIO.list(dir).find(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).get.toString
    }
    // data: ids 1..10 at sequence 1 (via inheritance)
    val dataPath = onePart(root.resolve("d1"),
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    // equality-delete parquet at seq 2: kills ids 3, 4
    val eqPath = onePart(root.resolve("ed"), Seq(3L, 4L).toDF("id"))
    // positional-delete parquet at seq 2: kills positions 0 and 9 of the
    // data file, addressed by file:// URI like Spark writes it
    val posPath = onePart(root.resolve("pd"),
      Seq((s"file://$dataPath", 0L), (s"file://$dataPath", 9L))
        .toDF("file_path", "pos"))

    def entry(schema: org.apache.avro.Schema, path: String, fmt: String,
        content: Int, rows: Long, seq: java.lang.Long,
        eqIds: Seq[Int]): GenericRecord = {
      val e = new GenericData.Record(schema)
      e.put("status", 1)
      e.put("snapshot_id", java.lang.Long.valueOf(77L))
      e.put("sequence_number", seq) // null => v2 inheritance
      e.put("file_sequence_number", seq)
      val df0 = new GenericData.Record(schema.getField("data_file").schema())
      df0.put("content", content)
      df0.put("file_path", s"file://$path")
      df0.put("file_format", fmt)
      df0.put("partition", new GenericData.Record(
        df0.getSchema.getField("partition").schema()))
      df0.put("record_count", java.lang.Long.valueOf(rows))
      df0.put("file_size_in_bytes", java.lang.Long.valueOf(Files.size(
        java.nio.file.Paths.get(path))))
      if (eqIds.nonEmpty)
        df0.put("equality_ids", eqIds.map(Integer.valueOf).asJava)
      e.put("data_file", df0)
      e
    }
    def writeAvro(schema: org.apache.avro.Schema, recs: Seq[GenericRecord],
        dest: java.nio.file.Path): Long = {
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new org.apache.avro.generic.GenericDatumWriter[GenericRecord](schema))
      w.create(schema, dest.toFile)
      try recs.foreach(w.append) finally w.close()
      Files.size(dest)
    }
    val es = IcebergInterop.ManifestEntrySchema
    // data manifest: entry seq NULL -> inherits list seq 1
    val m0 = metaDir.resolve("ext-m0.avro")
    val m0len = writeAvro(es,
      Seq(entry(es, dataPath, "PARQUET", 0, 10L, null, Nil)), m0)
    // delete manifest at list seq 2; entries carry explicit seq 2
    val m1 = metaDir.resolve("ext-m1.avro")
    val m1len = writeAvro(es, Seq(
      entry(es, eqPath, "PARQUET", 2, 2L, 2L, Seq(1)),
      entry(es, posPath, "PARQUET", 1, 2L, 2L, Nil)), m1)
    val ml = IcebergInterop.ManifestListSchema
    def listEntry(p: java.nio.file.Path, len: Long, content: Int,
        seq: Long): GenericRecord = {
      val r = new GenericData.Record(ml)
      r.put("manifest_path", s"file://$p")
      r.put("manifest_length", java.lang.Long.valueOf(len))
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", java.lang.Long.valueOf(seq))
      r.put("min_sequence_number", java.lang.Long.valueOf(seq))
      r.put("added_snapshot_id", java.lang.Long.valueOf(77L))
      r.put("added_files_count", Integer.valueOf(1))
      r.put("existing_files_count", Integer.valueOf(0))
      r.put("deleted_files_count", Integer.valueOf(0))
      r.put("added_rows_count", java.lang.Long.valueOf(2L))
      r.put("existing_rows_count", java.lang.Long.valueOf(0L))
      r.put("deleted_rows_count", java.lang.Long.valueOf(0L))
      r
    }
    val listPath = metaDir.resolve("snap-77-1-ext.avro")
    writeAvro(ml, Seq(listEntry(m0, m0len, 0, 1L),
      listEntry(m1, m1len, 1, 2L)), listPath)
    val (schemaJson, lastId) = IcebergInterop.toIcebergSchemaJson(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    Files.writeString(metaDir.resolve("v1.metadata.json"),
      s"""{"format-version": 2, "table-uuid": "0-0-0-0-0",
         | "location": "file://$root", "last-sequence-number": 2,
         | "last-updated-ms": 1, "last-column-id": $lastId,
         | "current-schema-id": 0, "schemas": [$schemaJson],
         | "default-spec-id": 0,
         | "partition-specs": [{"spec-id": 0, "fields": []}],
         | "last-partition-id": 999, "default-sort-order-id": 1,
         | "sort-orders": [{"order-id": 0, "fields": []},
         |   {"order-id": 1, "fields": [{"transform": "identity",
         |     "source-id": 1, "direction": "asc",
         |     "null-order": "nulls-first"}]}],
         | "current-snapshot-id": 77,
         | "snapshots": [{"snapshot-id": 77, "sequence-number": 2,
         |   "timestamp-ms": 1, "schema-id": 0,
         |   "summary": {"operation": "append"},
         |   "manifest-list": "file://$listPath"}],
         | "snapshot-log": [], "metadata-log": []}""".stripMargin)
    Files.writeString(metaDir.resolve("version-hint.text"), "1")

    // expected: 1..10 minus eq{3,4} minus positions {0,9} = ids 1,10 gone
    val expect = (1L to 10L).toSet -- Set(3L, 4L) -- Set(1L, 10L)
    val got = IcebergInterop.importTable(spark, root.toString)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == expect, s"external-tree import: $got vs $expect")
    // attach path too (replay): same content, native MoR state
    val cat = freshCatalog()
    val att = IcebergInterop.importAsTable(cat, "main", "ext", root.toString)
    assert(att.read().select("id").collect().map(_.getLong(0)).toSet == expect)
    // the external tree's identity/asc sort order translated into the
    // native sort-order property on attach
    assert(att.metadata.properties
      .get(GraftWriter.SortOrderProperty).contains("id"),
      s"sort order must translate: ${att.metadata.properties}")
  }

  test("imports a legacy format-version 1 tree (inline manifests, single schema)") {
    import org.apache.avro.generic.{GenericData, GenericRecord}
    // the 2017-era v1 shape: no sequence numbers, no content field, an
    // inline `manifests` path array on the snapshot (no manifest list),
    // a single `schema` key and a bare `partition-spec` fields array
    val v1Entry = new org.apache.avro.Schema.Parser().parse("""{
      "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
        {"name": "data_file", "field-id": 2, "type": {
          "type": "record", "name": "r2", "fields": [
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "field-id": 102,
             "type": {"type": "record", "name": "r102", "fields": []}},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104}
          ]}}]}""")
    val root = Files.createTempDirectory("graft-v1-ice-")
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    val dataSub = root.resolve("d1")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.parquet(dataSub.toString)
    val dataPath = PathIO.list(dataSub)
      .find(_.getFileName.toString.endsWith(".parquet")).get.toString
    val e = new GenericData.Record(v1Entry)
    e.put("status", 1)
    e.put("snapshot_id", java.lang.Long.valueOf(5L))
    val df0 = new GenericData.Record(v1Entry.getField("data_file").schema())
    df0.put("file_path", s"file://$dataPath")
    df0.put("file_format", "PARQUET")
    df0.put("partition", new GenericData.Record(
      df0.getSchema.getField("partition").schema()))
    df0.put("record_count", java.lang.Long.valueOf(3L))
    df0.put("file_size_in_bytes", java.lang.Long.valueOf(
      Files.size(java.nio.file.Paths.get(dataPath))))
    e.put("data_file", df0)
    val mPath = metaDir.resolve("v1-m0.avro")
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](v1Entry))
    w.create(v1Entry, mPath.toFile)
    try w.append(e) finally w.close()
    val (schemaJson, lastId) = IcebergInterop.toIcebergSchemaJson(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    Files.writeString(metaDir.resolve("v1.metadata.json"),
      s"""{"format-version": 1, "table-uuid": "0-0-0-0-1",
         | "location": "file://$root", "last-updated-ms": 1,
         | "last-column-id": $lastId, "schema": $schemaJson,
         | "partition-spec": [], "properties": {},
         | "current-snapshot-id": 5,
         | "snapshots": [{"snapshot-id": 5, "timestamp-ms": 1,
         |   "manifests": ["file://$mPath"]}]}""".stripMargin)
    Files.writeString(metaDir.resolve("version-hint.text"), "1")
    val back = IcebergInterop.importTable(spark, root.toString)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    val cat = freshCatalog()
    val att = IcebergInterop.importAsTable(cat, "main", "v1t", root.toString)
    assert(att.read().count() == 3 && att.rowCount == 3L)
  }

  test("partitioned export round-trips the real spec, tuples, and pruning") {
    import graft.partition.PartitionHint
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1, partitions = Seq(
      PartitionHint.bucket(4, "id"), PartitionHint.month("d")))
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-05"), "a"),
      (2L, java.sql.Date.valueOf("2024-01-20"), "b"),
      (3L, java.sql.Date.valueOf("2024-02-02"), "c"),
      (4L, java.sql.Date.valueOf("2024-02-28"), "d")).toDF("id", "d", "v")
    w.writeTable("main", "t", Seq(df), Append, cfg, "l1")
    cat.loadTable("main", "t").commit(m => m.copy(properties =
      m.properties + (GraftWriter.SortOrderProperty -> "id")), unitMs = 1)
    val t = cat.loadTable("main", "t")
    assert(t.metadata.partitionSpec.size == 2, "precondition: spec built")
    IcebergInterop.exportTable(t, nowMs = 1700000000000L)

    // metadata.json publishes the REAL spec under a fresh non-zero id
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = t.dir.resolve("iceberg").resolve("metadata")
    val md = JsonMethods.parse(Files.readString(
      metaDir.resolve("v1.metadata.json")))
    assert((md \ "default-spec-id") == JInt(1), md \ "default-spec-id")
    val specs = (md \ "partition-specs").asInstanceOf[JArray].arr
    assert(specs.size == 2, "empty spec 0 + real spec 1")
    val fields = (specs.find(s => (s \ "spec-id") == JInt(1)).get \ "fields")
      .asInstanceOf[JArray].arr
    assert(fields.map(f => (f \ "transform").asInstanceOf[JString].s).toSet ==
      Set("bucket[4]", "month"))
    assert(fields.map(f => (f \ "field-id")).toSet == Set(JInt(1000), JInt(1001)))
    assert((md \ "last-partition-id") == JInt(1001))
    // the declared write sort order exports as a real Iceberg sort order
    assert((md \ "default-sort-order-id") == JInt(1))
    val so = (md \ "sort-orders").asInstanceOf[JArray].arr
      .find(s => (s \ "order-id") == JInt(1)).get
    val sof = (so \ "fields").asInstanceOf[JArray].arr
    assert(sof.size == 1 && (sof.head \ "direction") == JString("asc") &&
      (sof.head \ "source-id") == JInt(1), sof)

    // the manifest partition record carries the field ids + real values
    val mPath = PathIO.list(metaDir)
      .find(_.getFileName.toString.endsWith("-m0.avro")).get
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(mPath)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val months = try {
      assert(r.getMetaString("partition-spec-id") == "1")
      val recs = r.iterator()
      val got = scala.collection.mutable.Set[Int]()
      while (recs.hasNext) {
        val part = recs.next().get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
        val mField = part.getSchema.getFields.asScala
          .find(_.name.contains("month")).get
        assert(mField.getObjectProp("field-id")
          .asInstanceOf[Number].intValue >= 1000)
        got += part.get(mField.name).asInstanceOf[Number].intValue
      }
      got.toSet
    } finally r.close()
    // Iceberg month ordinals: months since 1970-01 — Jan/Feb 2024
    assert(months == Set((2024 - 1970) * 12, (2024 - 1970) * 12 + 1), months)

    // the manifest-list entry carries the spec's partition summary
    // (field 507): bounds over the month ordinals, little-endian ints
    val listFile = PathIO.list(metaDir)
      .find(_.getFileName.toString.startsWith("snap-")).get
    val lr = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(listFile)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val entry = lr.iterator().next()
      val parts = entry.get("partitions")
        .asInstanceOf[java.util.Collection[org.apache.avro.generic.GenericRecord]]
      assert(parts != null && parts.size == 2, s"partition summary: $parts")
      val monthSummary = parts.asScala.toSeq(1) // field order: bucket, month
      val lo = monthSummary.get("lower_bound").asInstanceOf[java.nio.ByteBuffer]
        .duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val hi = monthSummary.get("upper_bound").asInstanceOf[java.nio.ByteBuffer]
        .duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert(lo == (2024 - 1970) * 12 && hi == (2024 - 1970) * 12 + 1,
        s"month bounds $lo..$hi")
      assert(monthSummary.get("contains_null") == java.lang.Boolean.FALSE)
    } finally lr.close()

    // DataFrame import: content round-trips
    val back = IcebergInterop.importTable(spark, t.dir.resolve("iceberg").toString)
    assert(back.select("id", "v").collect().map(r0 =>
      (r0.getLong(0), r0.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // attach: spec + synthesized tuple stats carry over, so exact
    // partition pruning works immediately — no restage
    val cat2 = freshCatalog()
    val att = IcebergInterop.importAsTable(cat2, "main", "att",
      t.dir.resolve("iceberg").toString)
    val m2 = att.metadata
    assert(m2.partitionSpec.map(_.transform).toSet == Set("bucket", "month"))
    val monthName = m2.partitionSpec.find(_.transform == "month").get.name
    val jan = StatsPrune.files(m2, Seq(StatsPrune.between(monthName, "2024-01", "2024-01")))
    assert(jan.nonEmpty && jan.size < m2.currentFiles.size,
      s"month pruning must work post-attach: ${jan.size}/${m2.currentFiles.size}")
    assert(att.read().count() == 4)
  }

  test("null partition tuples round-trip (all-null source file)") {
    import graft.partition.PartitionHint
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1,
      partitions = Seq(PartitionHint.identity("grp")))
    val rows = Seq((1L, "a", "x"), (2L, "b", "x"),
      (3L, "c", null: String), (4L, "d", null: String))
    w.writeTable("main", "t", Seq(rows.toDF("id", "v", "grp")), Append, cfg, "l1")
    val t = cat.loadTable("main", "t")
    IcebergInterop.exportTable(t)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val md = JsonMethods.parse(Files.readString(t.dir.resolve("iceberg")
      .resolve("metadata").resolve("v1.metadata.json")))
    assert((md \ "default-spec-id") == JInt(1),
      "null tuples are decodable (nullCount == rowCount), not a fallback")
    // round-trip: content + null group intact through both import flavors
    val back = IcebergInterop.importTable(spark, t.dir.resolve("iceberg").toString)
    assert(back.filter(col("grp").isNull).count() == 2)
    assert(back.count() == 4)
    val cat2 = freshCatalog()
    val att = IcebergInterop.importAsTable(cat2, "main", "att",
      t.dir.resolve("iceberg").toString)
    assert(att.read().filter(col("grp").isNull).count() == 2)
    // the null-group file's synthesized stats mark the all-null tuple
    val nullFile = att.metadata.currentFiles.find(f =>
      f.stats.exists { case (k, s) =>
        k.contains("grp") && s.nullCount.contains(f.rowCount) })
    assert(nullFile.isDefined,
      s"attached null tuple must synthesize nullCount==rowCount stats: " +
        s"${att.metadata.currentFiles.map(_.stats)}")
  }

  test("unpartitionable files fall back to the unpartitioned spec") {
    import graft.partition.PartitionHint
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    // write UNPARTITIONED first, then evolve the spec: the pre-spec file
    // has no derived tuple, so export must fall back to spec 0 rather
    // than publish partition metadata it cannot prove
    w.writeTable("main", "t",
      Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val t = cat.loadTable("main", "t")
    t.commit(m => m.withPartitionSpec(graft.partition.Transforms.buildSpec(
      Seq(PartitionHint.bucket(4, "id")), m.schema)), unitMs = 1)
    val t2 = cat.loadTable("main", "t")
    assert(t2.metadata.partitionSpec.nonEmpty, "precondition")
    IcebergInterop.exportTable(t2)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = t2.dir.resolve("iceberg").resolve("metadata")
    val md = JsonMethods.parse(Files.readString(
      metaDir.resolve("v1.metadata.json")))
    // the DECLARED spec publishes (Iceberg's default spec is the current
    // one regardless of file vintages) …
    assert((md \ "default-spec-id") == JInt(1), md \ "default-spec-id")
    // … but the pre-spec manifest cannot prove tuples, so it references
    // the empty spec 0 — per-manifest degradation, never wrong metadata
    val mPath = PathIO.list(metaDir)
      .find(_.getFileName.toString.endsWith("-m0.avro")).get
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(mPath)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try assert(r.getMetaString("partition-spec-id") == "0")
    finally r.close()
    val back = IcebergInterop.importTable(spark,
      t2.dir.resolve("iceberg").toString)
    assert(back.count() == 2)
    // the attach sees the declared spec but no provable tuples -> it
    // attaches unpartitioned (specEligible false), content intact
    val cat2 = freshCatalog()
    val att = IcebergInterop.importAsTable(cat2, "main", "att",
      t2.dir.resolve("iceberg").toString)
    assert(att.metadata.partitionSpec.isEmpty && att.read().count() == 2)
  }

  test("full snapshot history exports: external time travel + shared manifests") {
    val cat = freshCatalog()
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(retryUnitMs = 1)
    (1 to 4).foreach { i =>
      w.writeTable("main", "t",
        Seq(Seq((i.toLong, s"v$i")).toDF("id", "v")), Append, cfg, s"l$i")
    }
    val t = cat.loadTable("main", "t")
    assert(t.metadata.snapshots.size == 4, "precondition")
    IcebergInterop.exportTable(t, nowMs = 1700000000000L)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = t.dir.resolve("iceberg").resolve("metadata")
    val md = JsonMethods.parse(Files.readString(
      metaDir.resolve("v1.metadata.json")))
    val snaps = (md \ "snapshots").asInstanceOf[JArray].arr
    assert(snaps.size == 4, "ALL retained snapshots export, not just HEAD")
    // every snapshot is independently importable: external time travel
    val ids = snaps.map(s => (s \ "snapshot-id").asInstanceOf[JInt].num.toLong)
    snaps.zipWithIndex.foreach { case (s, i) =>
      assert((s \ "summary" \ "total-records") == JString((i + 1).toString),
        s"snapshot $i totals")
    }
    // …and each historical snapshot IMPORTS to exactly the rows the
    // engine's own time travel serves there
    ids.zipWithIndex.foreach { case (sid, i) =>
      val at = IcebergInterop.importTable(spark,
        t.dir.resolve("iceberg").toString, asOfSnapshotId = Some(sid))
      assert(at.count() == i + 1, s"import at snapshot $sid")
      assert(at.select("id").collect().map(_.getLong(0)).toSet ==
        (1L to (i + 1).toLong).toSet)
    }
    // historical ATTACH through the SQL procedure surface: snapshot 2
    // becomes a live table with exactly its 2 rows
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.g_att",
      classOf[GraftSparkCatalog].getName)
    s2.conf.set("spark.sql.catalog.g_att.warehouse",
      Files.createTempDirectory("graft-att-wh-").toString)
    val r0 = s2.sql(s"CALL g_att.system.iceberg_attach('main.hist2', " +
      s"'${t.dir.resolve("iceberg")}', ${ids(1)})").collect()(0)
    assert(r0.getBoolean(0) && r0.getLong(1) == 2L, r0)

    // parent chain is the real commit chain
    ids.sliding(2).foreach { case Seq(a, b) =>
      val child = snaps.find(s => (s \ "snapshot-id") == JInt(b)).get
      assert((child \ "parent-snapshot-id") == JInt(a), s"parent of $b")
    }
    // manifests are shared by identity: 4 snapshots over 4 appends need
    // at most 4 + small-merge manifests, NOT 1+2+3+4 re-exports
    val m0s = PathIO.list(metaDir)
      .count(_.getFileName.toString.endsWith("-m0.avro"))
    assert(m0s <= t.metadata.snapshots.flatMap(_.manifestPaths).distinct.size,
      s"manifest reuse broken: $m0s exported bodies")
    // current import serves the full content
    assert(IcebergInterop.importTable(spark,
      t.dir.resolve("iceberg").toString).count() == 4)
    // a branch ref exports as an Iceberg ref
    t.createBranch("audit")
    IcebergInterop.exportTable(cat.loadTable("main", "t"),
      nowMs = 1700000001000L)
    val md2 = JsonMethods.parse(Files.readString(
      metaDir.resolve("v2.metadata.json")))
    assert((md2 \ "refs" \ "audit" \ "snapshot-id") != JNothing,
      md2 \ "refs")
    // re-export wrote no new manifest bodies (all cached by identity)
    assert(PathIO.list(metaDir)
      .count(_.getFileName.toString.endsWith("-m0.avro")) == m0s,
      "re-export must reuse every exported manifest")
  }

  test("history trims to the delete budget; current snapshot always exports") {
    val (cat, t0) = morFixture()
    // apply deletes physically: CURRENT becomes delete-free, but the
    // retained HISTORY snapshots still reference the old delete files
    Maintenance.applyDeletes(t0, retryUnitMs = 1)
    val t = cat.loadTable("main", "t")
    assert(t.metadata.currentSnapshot.get.deletes.isEmpty)
    assert(t.metadata.snapshots.exists(_.deletes.nonEmpty), "history keeps them")
    spark.conf.set(IcebergInterop.ExportDeleteMaxRowsKey, "0")
    try {
      // current fits the budget (zero delete rows) => export SUCCEEDS,
      // trimming the delete-carrying history instead of refusing
      IcebergInterop.exportTable(t)
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val md = JsonMethods.parse(Files.readString(t.dir.resolve("iceberg")
        .resolve("metadata").resolve("v1.metadata.json")))
      val ids = (md \ "snapshots").asInstanceOf[JArray].arr
        .map(s => (s \ "snapshot-id").asInstanceOf[JInt].num.toLong)
      assert(ids.contains(t.metadata.currentSnapshotId.get),
        "current must always export")
      assert(ids.size < t.metadata.snapshots.size,
        s"delete-carrying history must trim under a zero budget: $ids")
      val back = IcebergInterop.importTable(spark,
        t.dir.resolve("iceberg").toString)
      assert(back.select("id", "v").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSet == Set((1L, "a2"), (3L, "c")))
    } finally spark.conf.unset(IcebergInterop.ExportDeleteMaxRowsKey)
  }

  test("importAsTable replays a MoR tree with exact sequence semantics") {
    val (srcCat, src0) = morFixture()
    // table properties ride the round-trip: the PK contract set here
    // must be live on the attached table
    src0.commit(m => m.copy(properties =
      m.properties + ("graft.primary-key" -> "id")), unitMs = 1)
    val src = srcCat.loadTable("main", "t")
    IcebergInterop.exportTable(src)
    val cat2 = freshCatalog()
    val t = IcebergInterop.importAsTable(cat2, "main", "attached",
      src.dir.resolve("iceberg").toString)
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set((1L, "a2"), (3L, "c")))
    // the attach converted the tree into NATIVE MoR state (not a
    // pre-merged copy): the snapshot still carries delete files, and the
    // re-staged equality deletes carry key min/max stats so point
    // lookups prune the delete side like a natively written table
    val snap = t.metadata.currentSnapshot.get
    assert(snap.deletes.nonEmpty && snap.posDeletes.nonEmpty, "native MoR")
    assert(snap.deletes.forall(d =>
      d.keyColumns.forall(k => d.stats.get(k).exists(_.min.isDefined))),
      s"attached eq deletes must carry key stats: ${snap.deletes.map(_.stats)}")
    assert(t.metadata.properties.get("graft.primary-key").contains("id"),
      s"table properties must survive the attach: ${t.metadata.properties}")
    // FUTURE commits see consistent sequences: a new MoR upsert's delete
    // applies to every imported row older than it
    val cfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1,
      mergeOnRead = true)
    new GraftWriter(cat2).writeTable("main", "attached",
      Seq(Seq((3L, "c2"), (4L, "d")).toDF("id", "v")),
      Merge("upsert"), cfg, "l5")
    assert(cat2.loadTable("main", "attached").read().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a2"), (3L, "c2"), (4L, "d")))
    // and compaction applies the whole imported+new backlog physically
    Maintenance.applyDeletes(cat2.loadTable("main", "attached"), retryUnitMs = 1)
    val t2 = cat2.loadTable("main", "attached")
    assert(t2.metadata.currentSnapshot.get.deletes.isEmpty)
    assert(t2.read().collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set((1L, "a2"), (3L, "c2"), (4L, "d")))
  }

  test("name mapping is fully recursive: every minted field id has a mapping entry") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // the adversarial shapes: list-of-list, map-of-map, STRUCT map key,
    // struct nested under a list inside a map value — graft parquet
    // carries no embedded ids, so any id missing from the mapping
    // silently null-fills that column for external readers
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ll", ArrayType(ArrayType(IntegerType))),
      StructField("mm", MapType(StringType, MapType(StringType, LongType))),
      StructField("km", MapType(
        StructType(Seq(StructField("kx", IntegerType),
          StructField("ky", StringType))), LongType)),
      StructField("mls", MapType(StringType, ArrayType(
        StructType(Seq(StructField("sx", DoubleType),
          StructField("sy", ArrayType(StringType)))))))))
    val ids = new IcebergInterop.StableFieldIds
    val sj = JsonMethods.parse(
      IcebergInterop.toIcebergSchemaJsonStable(schema, 0, ids))
    val nm = JsonMethods.parse(IcebergInterop.nameMappingJson(schema, ids))
    def schemaIds(v: JValue): Set[BigInt] = v match {
      case JObject(fields) => fields.flatMap {
        case (k, JInt(i)) if k == "id" || k == "element-id" ||
          k == "key-id" || k == "value-id" => Seq(i)
        case (_, child) => schemaIds(child)
      }.toSet
      case JArray(xs) => xs.flatMap(schemaIds).toSet
      case _ => Set.empty
    }
    def mappingIds(v: JValue): Set[BigInt] = v match {
      case JObject(fields) => fields.flatMap {
        case ("field-id", JInt(i)) => Seq(i)
        case (_, child) => mappingIds(child)
      }.toSet
      case JArray(xs) => xs.flatMap(mappingIds).toSet
      case _ => Set.empty
    }
    val minted = schemaIds(sj)
    val mapped = mappingIds(nm)
    assert(minted == mapped,
      s"mapping must cover every minted id; missing ${minted -- mapped}, " +
        s"extra ${mapped -- minted}")
    assert(minted.size >= 17, s"deep nesting should mint many ids: $minted")
  }

  test("re-added column with an incompatible type mints a fresh id; legal promotions keep it") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def fieldId(json: String, name: String): Int =
      (JsonMethods.parse(json) \ "fields").asInstanceOf[JArray].arr
        .collectFirst { case f if (f \ "name") == JString(name) =>
          (f \ "id") match { case JInt(i) => i.toInt
            case other => fail(s"bad id $other") } }.get
    val ids = new IcebergInterop.StableFieldIds
    val s1 = StructType(Seq(StructField("a", DoubleType),
      StructField("b", IntegerType)))
    // v2: 'a' re-typed double->string (ILLEGAL in Iceberg), 'b' promoted
    // int->long (legal)
    val s2 = StructType(Seq(StructField("a", StringType),
      StructField("b", LongType)))
    val j1 = IcebergInterop.toIcebergSchemaJsonStable(s1, 1, ids)
    val j2 = IcebergInterop.toIcebergSchemaJsonStable(s2, 2, ids)
    assert(fieldId(j1, "b") == fieldId(j2, "b"),
      "int->long is a legal promotion: the id must be stable")
    assert(fieldId(j1, "a") != fieldId(j2, "a"),
      "double->string is not a promotion: a fresh id must be minted")
    // seeding from the published chain reproduces BOTH generations
    // exactly (re-exports never churn ids)
    val ids2 = new IcebergInterop.StableFieldIds
    IcebergInterop.seedFieldIds(JsonMethods.parse(j1), ids2)
    IcebergInterop.seedFieldIds(JsonMethods.parse(j2), ids2)
    assert(IcebergInterop.toIcebergSchemaJsonStable(s1, 1, ids2) == j1,
      "re-walking the OLD schema after seeding must reproduce its ids")
    assert(IcebergInterop.toIcebergSchemaJsonStable(s2, 2, ids2) == j2,
      "re-walking the NEW schema after seeding must reproduce its ids")
  }

  test("a literal '%' in the table path round-trips through export URIs") {
    // percent-encoding hazard: a bare "file://" + path URI containing a
    // literal '%' decodes to a DIFFERENT path on any conformant reader
    // (here: a directory named with both a literal '%' escape-lookalike
    // and a space)
    val wh = Files.createTempDirectory("graft-ice-pct-")
      .resolve("p%20ct dir")
    Files.createDirectories(wh)
    val cat = new GraftCatalog(spark, wh.toString)
    val w = new GraftWriter(cat)
    w.writeTable("main", "t",
      Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Append, WriteConfig(retryUnitMs = 1), "l1")
    val t = cat.loadTable("main", "t")
    val mdPath = IcebergInterop.exportTable(t, nowMs = 1700000000000L)
    val md = Files.readString(mdPath)
    assert(md.contains("p%2520ct%20dir"),
      "the literal '%' must be percent-encoded in exported URIs")
    val back = IcebergInterop.importTable(spark,
      t.dir.resolve("iceberg").toString)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")),
      "import through the encoded URIs must find the real files")
  }
}
