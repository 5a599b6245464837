package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.GraftCatalog
import graft.streaming.StreamingLoader
import graft.write.WriteConfig

/** Streaming veneer: micro-batches inherit the commit protocol — one
  * snapshot per batch, results identical to the batch path. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("windowed streaming agg equals the batch aggregation") {
    val q = StreamingLoader.dailyRollup(StreamingLoader.eventsStream(spark, sf))
      .writeStream.queryName("st_spec_out").outputMode("complete")
      .format("memory").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st_spec_out")
      .orderBy("event_type", "event_day").collect()
    // withWatermark is a no-op on a batch frame, so the same rollup runs both ways
    val batch = StreamingLoader.dailyRollup(Tables.t(spark, sf, "events"))
      .orderBy("event_type", "event_day").collect()
    assert(streamed.sameElements(batch))
  }

  test("update-mode watermarked upsert matches batch AND keeps state bounded") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val confBefore = spark.conf.getOption(key)
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-s4s-").toString)
    val loader = new StreamingLoader(cat)
    val src = StreamingLoader.eventsChunkedStream(spark, sf, chunks = 4)
    val q = loader.start(StreamingLoader.dailyRollup(src),
      "main", "daily", disposition = graft.write.Merge("upsert"),
      cfg = WriteConfig(retryUnitMs = 1,
        primaryKey = Seq("event_type", "event_day")),
      queryName = "s4spec",
      checkpoint = Some(Files.createTempDirectory("graft-s4sck-").toString),
      outputMode = Some("update"))
    try q.awaitTermination() finally q.stop()

    // result parity with the batch rollup
    val streamed = cat.loadTable("main", "daily").read()
      .select("event_type", "event_day", "n", "sum_value")
      .orderBy("event_type", "event_day").collect()
    val batch = StreamingLoader.dailyRollup(Tables.t(spark, sf, "events"))
      .orderBy("event_type", "event_day").collect()
    assert(streamed.sameElements(batch))

    // bounded state: the watermark must evict closed windows, so the
    // state store NEVER holds anything close to the full window history
    val nWindows = batch.length
    val stateRows = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    assert(stateRows.nonEmpty)
    assert(stateRows.max <= nWindows / 2,
      s"state held ${stateRows.max} rows vs $nWindows total windows — watermark not evicting")
    // ...and stops growing across batches (last batch ≤ earlier peak)
    assert(stateRows.last <= stateRows.max)

    // multiple micro-batches actually happened (one per chunk file)
    assert(cat.loadTable("main", "daily").metadata.snapshots.size >= 3)

    // conf hygiene: the nanos legacy flag is restored after stream setup
    assert(spark.conf.getOption(key) == confBefore,
      "nanosAsLong session conf leaked past stream completion")
  }

  test("streaming dedup drops planted duplicates with watermark-bounded key state") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-s5s-").toString)
    val loader = new StreamingLoader(cat)
    val src = StreamingLoader.eventsChunkedStream(spark, sf, chunks = 4,
      duplicateRows = true)
    val deduped = src.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = loader.start(deduped, "main", "ev", cfg = WriteConfig(retryUnitMs = 1),
      queryName = "s5spec",
      checkpoint = Some(Files.createTempDirectory("graft-s5sck-").toString))
    try q.awaitTermination() finally q.stop()
    val nEvents = Tables.t(spark, sf, "events").count()
    // every duplicate dropped, every original kept
    assert(cat.loadTable("main", "ev").read().count() == nEvents)
    // seen-key state is evicted by the watermark: it never holds
    // anything near the full event-id universe
    val stateRows = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    assert(stateRows.nonEmpty && stateRows.max < nEvents / 2,
      s"dedup state ${stateRows.max} rows vs $nEvents events — watermark not evicting")
  }

  test("stream-stream join matches the batch self-join with bounded join state") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-s6s-").toString)
    val loader = new StreamingLoader(cat)
    val src = StreamingLoader.eventsChunkedStream(spark, sf, chunks = 4)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
      expr("user_id = p_user_id AND purchase_ts >= view_ts AND " +
        "purchase_ts <= view_ts + INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"))
    val q = loader.start(joined, "main", "attr", cfg = WriteConfig(retryUnitMs = 1),
      queryName = "s6spec",
      checkpoint = Some(Files.createTempDirectory("graft-s6sck-").toString))
    try q.awaitTermination() finally q.stop()

    val ev = Tables.t(spark, sf, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val expected = v.join(p,
        expr("user_id = p_user_id AND purchase_ts >= view_ts AND " +
          "purchase_ts <= view_ts + INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"))
      .orderBy("view_id", "purchase_id").collect()
    val got = cat.loadTable("main", "attr").read()
      .orderBy("view_id", "purchase_id").collect()
    assert(got.sameElements(expected))

    // join state evicts behind the watermark: it never approaches the
    // full view+purchase row count
    val nRows = v.count() + p.count()
    val stateRows = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    assert(stateRows.nonEmpty && stateRows.max < nRows,
      s"join state ${stateRows.max} rows vs $nRows inputs — watermark not evicting")
  }

  test("checkpoint restart is exactly-once: a replayed batch commits nothing") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-rst-").toString)
    val loader = new StreamingLoader(cat)
    val ck = Files.createTempDirectory("graft-rst-ck-").toString
    def run(): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        try {
          val q = loader.start(
            StreamingLoader.eventsChunkedStream(spark, sf, chunks = 3),
            "main", "ev", cfg = WriteConfig(retryUnitMs = 1), queryName = "rst",
            checkpoint = Some(ck))
          try q.awaitTermination() finally q.stop()
          done = true
        } catch {
          // the manager releases a terminated query's checkpoint claim
          // asynchronously; a restart on the same checkpoint can race it
          case e: org.apache.spark.sql.streaming.StreamingQueryException
              if e.getMessage.contains("concurrently using") && attempts < 40 =>
            attempts += 1; Thread.sleep(250)
        }
      }
    }
    run()
    val t = cat.loadTable("main", "ev")
    val total = Tables.t(spark, sf, "events").count()
    assert(t.read().count() == total)
    val committed = t.metadata.snapshots.flatMap(_.loadId)
    assert(committed.distinct.length == committed.length)

    // simulate the crash window: the LAST batch's table commit landed but
    // its checkpoint commit didn't — delete the checkpoint commit marker
    // so restart replays that batch id against the already-committed table
    val lastBatch = committed.map(_.stripPrefix("rst-batch-").toInt).max
    val marker = java.nio.file.Paths.get(ck, "commits", lastBatch.toString)
    assert(java.nio.file.Files.deleteIfExists(marker),
      s"expected checkpoint commit marker $marker")
    run() // replays batch `lastBatch`
    val t2 = cat.loadTable("main", "ev")
    assert(t2.read().count() == total,
      "replayed batch must not duplicate rows")
    assert(t2.metadata.snapshots.flatMap(_.loadId) == committed,
      "replayed batch must be skipped, not re-committed")
  }

  test("CDC source: incremental change feed, restart-safe from checkpoint") {
    import graft.write.{GraftWriter, Merge}
    val wh = Files.createTempDirectory("graft-cdc-spec-").toString
    val cat = new GraftCatalog(spark, wh)
    val w = new GraftWriter(cat)
    val cfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1,
      mergeOnRead = true)
    import spark.implicits._
    w.writeTable("main", "t", Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Merge("upsert"), cfg, "l1")

    val ckpt = Files.createTempDirectory("graft-cdc-ck-").toString
    // capture per micro-batch, keyed by batchId (replay overwrites)
    val batches = new java.util.concurrent.ConcurrentHashMap[Long,
      Seq[(Long, Option[String], String)]]()
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.streaming.GraftCdcSourceProvider].getName)
        .option("warehouse", wh).option("table", "main.t").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches.put(id, df.collect().toSeq.map(r =>
            (r.getLong(0), Option(r.getString(1)), r.getString(2))))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    run() // batch 0: bootstrap
    assert(batches.get(0L).toSet ==
      Set((1L, Some("a"), "insert"), (2L, Some("b"), "insert")))

    // table advances while the stream is DOWN; restart resumes from the
    // checkpointed snapshot and delivers ONLY the new window's events
    w.writeTable("main", "t", Seq(Seq((2L, "b2"), (3L, "c")).toDF("id", "v")),
      Merge("upsert"), cfg, "l2")
    // a content-neutral rewrite mid-window contributes nothing
    graft.write.Maintenance.applyDeletes(cat.loadTable("main", "t"),
      retryUnitMs = 1)
    run()
    assert(batches.size == 2, s"expected exactly 2 batches: $batches")
    assert(batches.get(1L).toSet == Set(
      (2L, Some("b2"), "insert"), (3L, Some("c"), "insert"),
      (2L, None, "delete")), s"incremental window wrong: ${batches.get(1L)}")

    // idle restart: no new snapshot -> no new batch
    run()
    assert(batches.size == 2)
  }

  test("foreachBatch sink commits snapshots readable mid-stream") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-ss-").toString)
    val loader = new StreamingLoader(cat)
    val q = loader.start(StreamingLoader.eventsStream(spark, sf),
      "main", "ev", cfg = WriteConfig(retryUnitMs = 1), queryName = "ss",
      checkpoint = Some(Files.createTempDirectory("graft-ck-").toString))
    try q.awaitTermination() finally q.stop()
    val t = cat.loadTable("main", "ev")
    assert(t.read().count() == Tables.t(spark, sf, "events").count())
    assert(t.metadata.snapshots.nonEmpty)
    assert(t.metadata.snapshots.forall(_.loadId.get.startsWith("ss-batch-")))
  }

  test("near-dedup stream: crash between the two table commits replays to the identical keep-set") {
    import spark.implicits._
    // single-chunk doc stream staged by hand so batch 0's content is known
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    val srcDir = Files.createTempDirectory("graft-nd-crash-src-")
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-crash-").toString)
    val w = new graft.write.GraftWriter(cat)
    // simulate the crash window: batch 0's DOCS commit landed (under the
    // stream's loadId) but the SIGS commit did not
    val expectedKeep = docs // empty corpus: every doc survives batch 0
    w.writeTable("main", "dc", Seq(expectedKeep), graft.write.Append,
      WriteConfig(retryUnitMs = 1), "ndx-batch-0")
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = loader.startNearDeduped(stream, "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "ndx",
      checkpoint = Some(Files.createTempDirectory("graft-nd-crash-ck-").toString))
    try q.awaitTermination() finally q.stop()
    // docs table: the replay must NOT double-commit (one snapshot only)
    val dc = cat.loadTable("main", "dc")
    assert(dc.metadata.snapshots.size == 1,
      s"replay double-committed docs: ${dc.metadata.snapshots.map(_.loadId)}")
    assert(dc.read().count() == docs.count())
    // sigs table: the replay committed the MISSING half, with the
    // identical keep-set (signatures of exactly the committed docs)
    val ds = cat.loadTable("main", "ds")
    assert(ds.metadata.snapshots.size == 1 &&
      ds.metadata.snapshots.head.loadId.contains("ndx-batch-0"))
    val sigIds = ds.read().select("doc_id").as[Long].collect().toSet
    val docIds = dc.read().select("doc_id").as[Long].collect().toSet
    assert(sigIds == docIds, "sig keep-set must equal the docs keep-set")
    // the band index committed too, under the same load, bucket-bucketed
    val db = cat.loadTable("main", "ds_bands")
    assert(db.metadata.snapshots.size == 1 &&
      db.metadata.snapshots.head.loadId.contains("ndx-batch-0"))
    assert(db.metadata.partitionSpec.exists(f =>
      f.source == "bkey" && f.transform == "bucket"),
      s"band index must carry a bucket spec: ${db.metadata.partitionSpec}")
    val bandIds = db.read().select("doc_id").as[Long].collect().toSet
    assert(bandIds == sigIds, "band index keep-set must equal the sig set")
    assert(db.read().count() == sigIds.size * 32L,
      "band index must hold one row per (kept doc, band)")
  }

  test("near-dedup stream: crash after docs+sigs commits rebuilds the band index without re-deduping") {
    import spark.implicits._
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    val srcDir = Files.createTempDirectory("graft-nd-bands-src-")
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-bands-").toString)
    val w = new graft.write.GraftWriter(cat)
    // crash window: batch 0's docs AND sigs commits landed, bands did not
    w.writeTable("main", "dc", Seq(docs), graft.write.Append,
      WriteConfig(retryUnitMs = 1), "ndb-batch-0")
    val sigs = graft.llmops.Dedup.minHashSignatures(docs)
    w.writeTable("main", "ds", Seq(sigs), graft.write.Append,
      WriteConfig(retryUnitMs = 1), "ndb-batch-0")
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = loader.startNearDeduped(stream, "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "ndb",
      checkpoint = Some(Files.createTempDirectory("graft-nd-bands-ck-").toString))
    try q.awaitTermination() finally q.stop()
    // replay must NOT have re-run the dedup against the already-updated
    // corpus (which would self-match every doc): docs and sigs untouched
    val dc = cat.loadTable("main", "dc")
    val ds = cat.loadTable("main", "ds")
    assert(dc.metadata.snapshots.size == 1 && ds.metadata.snapshots.size == 1,
      "replay must not double-commit docs or sigs")
    assert(dc.read().count() == docs.count())
    // ...and the bands table was rebuilt from the COMMITTED signatures
    val db = cat.loadTable("main", "ds_bands")
    assert(db.metadata.snapshots.size == 1 &&
      db.metadata.snapshots.head.loadId.contains("ndb-batch-0"))
    val sigIds = ds.read().select("doc_id").as[Long].collect().toSet
    val bandIds = db.read().select("doc_id").as[Long].collect().toSet
    assert(bandIds == sigIds,
      "rebuilt band index must cover exactly the committed signatures")
  }

  test("near-dedup stream: crash window with bands committed BEFORE sigs replays to the identical keep-set") {
    import spark.implicits._
    // The sigs ∥ bands write overlap admits a crash state the serial order
    // could not: docs + bands committed, sigs not. Replay then runs the
    // dedup with a band index that already contains THIS batch's rows —
    // safe iff candidates drawn from those rows drop in the verify join
    // (the signature table still excludes the batch). This test pins that
    // window with a corpus whose signature table is NON-empty, so a wrong
    // implementation (e.g. verifying against the index instead of the sigs
    // table) would self-match and empty the keep-set.
    val cfg = WriteConfig(retryUnitMs = 1)
    val bandCfg = cfg.copy(partitions =
      Seq(graft.partition.PartitionHint.bucket(16, "bkey")))
    val corpus = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    val batchNew = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") >= 40 && col("doc_id") < 80)
    // a planted near-copy of a corpus doc (the startNearDeduped chunk
    // recipe: one appended token, shingle-Jaccard ~0.9) must be absorbed
    val planted = corpus.filter(col("doc_id") === 5)
      .select(lit(990005L).as("doc_id"),
        concat(col("text"), lit(" graftmarker")).as("text"))
    val batchDocs = batchNew.unionByName(planted)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-overlap-").toString)
    val w = new graft.write.GraftWriter(cat)
    // committed corpus (a completed earlier load): docs + sigs + bands
    val corpusSigs = graft.llmops.Dedup.minHashSignatures(corpus)
    w.writeTable("main", "dc", Seq(corpus), graft.write.Append, cfg, "setup")
    w.writeTable("main", "ds", Seq(corpusSigs), graft.write.Append, cfg, "setup")
    w.writeTable("main", "ds_bands",
      Seq(graft.llmops.Dedup.sigBandKeys(corpusSigs)),
      graft.write.Append, bandCfg, "setup")
    // parameter stamp so the replay takes the committed-index path (the
    // exact path whose early bands commit creates the window)
    cat.loadTable("main", "ds_bands").commit(m => m.copy(properties =
      m.properties + (graft.llmops.Dedup.NumHashesProp -> "64")
        + (graft.llmops.Dedup.BandsProp -> "32")), unitMs = 1)
    // what the crashed run would have computed and committed: keep-set
    // from the pre-crash state (sigs table WITHOUT the batch)
    val incSigs = graft.llmops.Dedup.minHashSignatures(batchDocs)
    val keepIds = graft.llmops.Dedup
      .incrementalNearDedup(incSigs, corpusSigs)
      .filter(col("is_new")).select("doc_id")
    val sigless = batchDocs.select(col("doc_id"))
      .join(incSigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val expectedKeep = keepIds.as[Long].collect().toSet
    assert(!expectedKeep.contains(990005L),
      "planted near-copy must not survive the dedup")
    // crash window: docs AND bands landed under the stream's loadId,
    // sigs did NOT
    w.writeTable("main", "dc",
      Seq(batchDocs.join(keepIds.union(sigless), "doc_id")),
      graft.write.Append, cfg, "ndo-batch-0")
    w.writeTable("main", "ds_bands",
      Seq(graft.llmops.Dedup.sigBandKeys(incSigs.join(keepIds, "doc_id"))),
      graft.write.Append, bandCfg, "ndo-batch-0")
    // replay the batch
    val srcDir = Files.createTempDirectory("graft-nd-overlap-src-")
    batchDocs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = loader.startNearDeduped(stream, "main", "dc", "ds",
      cfg = cfg, queryName = "ndo",
      checkpoint = Some(Files.createTempDirectory("graft-nd-overlap-ck-").toString))
    try q.awaitTermination() finally q.stop()
    // docs and bands: replay must NOT double-commit (setup + batch only)
    val dc = cat.loadTable("main", "dc")
    val db = cat.loadTable("main", "ds_bands")
    assert(dc.metadata.snapshots.count(_.loadId.exists(_.contains("ndo-batch-0"))) == 1,
      s"replay double-committed docs: ${dc.metadata.snapshots.map(_.loadId)}")
    assert(db.metadata.snapshots.count(_.loadId.exists(_.contains("ndo-batch-0"))) == 1,
      s"replay double-committed bands: ${db.metadata.snapshots.map(_.loadId)}")
    // sigs: the replay committed exactly the MISSING half with the
    // IDENTICAL keep-set — a self-matching replay would commit fewer ids
    val ds = cat.loadTable("main", "ds")
    assert(ds.metadata.snapshots.count(_.loadId.exists(_.contains("ndo-batch-0"))) == 1,
      s"sigs must commit exactly once on replay: ${ds.metadata.snapshots.map(_.loadId)}")
    val sigIds = ds.read().select("doc_id").as[Long].collect().toSet
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(sigIds == corpusIds ++ expectedKeep,
      s"replayed keep-set diverged: got ${sigIds.size} ids, " +
        s"expected ${(corpusIds ++ expectedKeep).size}")
  }

  test("near-dedup stream: persist lineage-truncation mode produces identical tables") {
    import spark.implicits._
    // the localCheckpoint failure doctrine's escape hatch: deployments
    // with routine executor churn set lineageTruncation=persist
    // (recomputable lineage). Results must be IDENTICAL to the default.
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val srcDir = Files.createTempDirectory("graft-nd-lt-src-")
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    def run(mode: Option[String]): (Set[Long], Set[Long], Long) = {
      val iso = spark.newSession()
      mode.foreach(m =>
        iso.conf.set(StreamingLoader.LineageTruncationKey, m))
      val cat = new GraftCatalog(iso,
        Files.createTempDirectory(s"graft-nd-lt-${mode.getOrElse("dflt")}-").toString)
      val loader = new StreamingLoader(cat)
      val schema = iso.read.parquet(srcDir.toString).schema
      val stream = iso.readStream.schema(schema).parquet(srcDir.toString)
      val q = loader.startNearDeduped(stream, "main", "dc", "ds",
        cfg = WriteConfig(retryUnitMs = 1), queryName = "ndlt",
        checkpoint = Some(Files.createTempDirectory("graft-nd-lt-ck-").toString))
      try q.awaitTermination() finally q.stop()
      (cat.loadTable("main", "dc").read().select("doc_id").as[Long].collect().toSet,
        cat.loadTable("main", "ds").read().select("doc_id").as[Long].collect().toSet,
        cat.loadTable("main", "ds_bands").read().count())
    }
    val dflt = run(None)
    val persisted = run(Some("persist"))
    assert(dflt == persisted,
      s"persist mode diverged from localCheckpoint mode: $dflt vs $persisted")
  }

  test("lineage truncation: an unknown mode fails fast, naming the key and the allowed values") {
    // "Persist" is a plausible typo for "persist": it must not silently
    // run the localCheckpoint default
    val iso = spark.newSession()
    iso.conf.set(StreamingLoader.LineageTruncationKey, "Persist")
    val srcDir = Files.createTempDirectory("graft-lt-bad-src-")
    import spark.implicits._
    Seq((1L, "a b c d e")).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(srcDir.toString)
    val cat = new GraftCatalog(iso,
      Files.createTempDirectory("graft-lt-bad-").toString)
    val stream = iso.readStream
      .schema(iso.read.parquet(srcDir.toString).schema).parquet(srcDir.toString)
    val e = intercept[IllegalArgumentException] {
      val q = new StreamingLoader(cat).startNearDeduped(stream, "main", "dc",
        "ds", cfg = WriteConfig(retryUnitMs = 1), queryName = "ltbad",
        checkpoint = Some(Files.createTempDirectory("graft-lt-bad-ck-").toString))
      try q.awaitTermination() finally q.stop()
    }
    assert(e.getMessage.contains(StreamingLoader.LineageTruncationKey) &&
      e.getMessage.contains("localCheckpoint") && e.getMessage.contains("persist"),
      e.getMessage)
  }

  test("near-dedup stream: committed band index SPJ-resolves — corpus side never shuffles") {
    import spark.implicits._
    // two chunks: chunk 1 plants a near-copy of a chunk-0 doc, so batch 1
    // runs the candidate join against the COMMITTED index of batch 0
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val srcDir = Files.createTempDirectory("graft-nd-spj-src-")
    docs.filter(col("doc_id") < 30).coalesce(1)
      .write.parquet(srcDir.resolve("c0").toString)
    docs.filter(col("doc_id") >= 30)
      .union(docs.filter(col("doc_id") === 5)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          concat(col("text"), lit(" graftmarker")).as("text")))
      .coalesce(1).write.parquet(srcDir.resolve("c1").toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-spj-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.resolve("c0").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = loader.startNearDeduped(stream, "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "ndj",
      checkpoint = Some(Files.createTempDirectory("graft-nd-spj-ck-").toString))
    try q.awaitTermination() finally q.stop()
    // cross-batch near-copy absorbed through the index path
    val docIds = cat.loadTable("main", "dc").read()
      .select("doc_id").as[Long].collect().toSet
    assert(!docIds.contains(9000005L),
      "cross-batch near-copy must be absorbed via the committed index")
    // the synthetic corpus carries natural near-dups of its own, so the
    // original-doc survivor count is bounded, not exact
    assert(docIds.count(_ < 9000000L) >= 55)
    // pin the plan shape the stream runs every batch: candidate join of
    // a plain batch against the committed bucket[16] index = exactly one
    // exchange (the incoming side), committed side map-only
    val iso = spark.newSession()
    iso.conf.set("spark.sql.catalog.g_ndj",
      classOf[graft.catalog.GraftSparkCatalog].getName)
    iso.conf.set("spark.sql.catalog.g_ndj.warehouse",
      cat.warehousePath.toString)
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val idx = iso.table("g_ndj.main.ds_bands")
    val probe = iso.range(0, 50).select(col("id").as("doc_id"),
      (col("id") * 7919L).as("bkey"))
    val j = probe.join(idx, Seq("bkey"))
    val n = graft.plans.PlanOps.shuffles(j)
    assert(n == 1,
      s"committed band index must SPJ-resolve one-sided, got $n exchanges:\n" +
        j.queryExecution.executedPlan)
  }

  test("near-dedup stream: docs too short to shingle pass through, never silently dropped") {
    import spark.implicits._
    // 3-word shingles => a 2-word doc gets NO MinHash signature; it must
    // still land in the corpus table (it cannot near-dup anything), not
    // vanish because the keep-set join only knows signature holders
    val srcDir = Files.createTempDirectory("graft-nd-short-src-")
    Seq(
      (1L, "key agg row scan slow fast table value part hash"),
      (2L, "hello world"), // sigless: shorter than the shingle width
      (3L, "x")) // sigless: single word
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-short-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = loader.startNearDeduped(stream, "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "nds",
      checkpoint = Some(Files.createTempDirectory("graft-nd-short-ck-").toString))
    try q.awaitTermination() finally q.stop()
    val docIds = cat.loadTable("main", "dc").read()
      .select("doc_id").as[Long].collect().toSet
    assert(docIds == Set(1L, 2L, 3L),
      s"short docs must survive near-dedup ingest, got $docIds")
    // the signature table holds only the signature-bearing doc
    val sigIds = cat.loadTable("main", "ds").read()
      .select("doc_id").as[Long].collect().toSet
    assert(sigIds == Set(1L))
  }

  test("near-dedup state tables: auto-compact opt-in at creation, orphan signatures prunable") {
    import spark.implicits._
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    val srcDir = Files.createTempDirectory("graft-nd-life-src-")
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-life-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = loader.startNearDeduped(stream, "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "ndl",
      checkpoint = Some(Files.createTempDirectory("graft-nd-life-ck-").toString))
    try q.awaitTermination() finally q.stop()
    // state tables opted into write-path self-compaction at creation
    for (table <- Seq("ds", "ds_bands"))
      assert(cat.loadTable("main", table).metadata.properties
        .get(graft.write.Maintenance.AutoCompactProp).contains("true"),
        s"$table must opt into auto-compact")
    // delete half the corpus docs, then prune: sig + band rows of the
    // erased docs must leave the state tables
    val w = new graft.write.GraftWriter(cat)
    w.deleteWhere("main", "dc", col("doc_id") < 20,
      WriteConfig(retryUnitMs = 1))
    val pruned = loader.pruneOrphanSignatures("main", "dc", "ds",
      WriteConfig(retryUnitMs = 1))
    assert(pruned > 0, "erased docs must have had signatures to prune")
    val liveIds = cat.loadTable("main", "dc").read()
      .select("doc_id").as[Long].collect().toSet
    val sigIds = cat.loadTable("main", "ds").read()
      .select("doc_id").as[Long].collect().toSet
    val bandIds = cat.loadTable("main", "ds_bands").read()
      .select("doc_id").as[Long].collect().toSet
    assert(sigIds.subsetOf(liveIds), "pruned sig table must cover only live docs")
    assert(bandIds == sigIds, "band index must track the sig table")
    assert(loader.pruneOrphanSignatures("main", "dc", "ds",
      WriteConfig(retryUnitMs = 1)) == 0L, "second prune must be a no-op")
  }

  test("near-dedup: two concurrent pipelines on one state table lose no signatures") {
    import spark.implicits._
    // two ingest pipelines share the corpus + state tables — e.g. two
    // crawl partitions loading through separate streams. Contract: every
    // commit lands through the CAS (no lost docs/sigs/bands), and dedup
    // is AT-LEAST-ONCE across concurrent batches: two batches planned
    // against the same corpus snapshot cannot see each other, so a
    // near-pair SPLIT between them may double-keep (same bound as
    // batch-internal pairs, which are the in-batch job's business).
    def mkDocs(idBase: Long, tag: String) = (0 until 25).map { i =>
      (idBase + i,
        (0 until 12).map(j => s"$tag-w${i * 31 + j * 7}").mkString(" "))
    }.toDF("doc_id", "text")
    val srcA = Files.createTempDirectory("graft-nd-conc-a-")
    val srcB = Files.createTempDirectory("graft-nd-conc-b-")
    mkDocs(1000L, "alpha").coalesce(1).write.mode("overwrite")
      .parquet(srcA.toString)
    mkDocs(2000L, "beta").coalesce(1).write.mode("overwrite")
      .parquet(srcB.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-conc-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcA.toString).schema
    def launch(src: java.nio.file.Path, name: String) =
      loader.startNearDeduped(
        spark.readStream.schema(schema).parquet(src.toString),
        "main", "dc", "ds", cfg = WriteConfig(retryUnitMs = 1),
        queryName = name,
        checkpoint = Some(
          Files.createTempDirectory(s"graft-nd-conc-ck-$name-").toString))
    val qa = launch(srcA, "ndca")
    val qb = launch(srcB, "ndcb")
    try { qa.awaitTermination(); qb.awaitTermination() }
    finally { qa.stop(); qb.stop() }
    val docIds = cat.loadTable("main", "dc").read()
      .select("doc_id").as[Long].collect().toSet
    assert(docIds == ((1000L until 1025L) ++ (2000L until 2025L)).toSet,
      s"no doc may be lost to the concurrent commits, got ${docIds.size}")
    val sigIds = cat.loadTable("main", "ds").read()
      .select("doc_id").as[Long].collect().toSet
    assert(sigIds == docIds, "every kept doc's signature must have landed")
    val bandRows = cat.loadTable("main", "ds_bands").read()
    assert(bandRows.select("doc_id").as[Long].collect().toSet == sigIds &&
      bandRows.count() == sigIds.size * 32L,
      "every kept doc's band-index rows must have landed")
    // both pipelines' loads are in the snapshot ledger of all 3 tables
    for (table <- Seq("dc", "ds", "ds_bands")) {
      val loads = cat.loadTable("main", table).metadata.snapshots
        .flatMap(_.loadId)
      assert(loads.exists(_.startsWith("ndca-")) &&
        loads.exists(_.startsWith("ndcb-")),
        s"$table must carry both pipelines' commits: $loads")
    }
  }

  test("url-dedup stream: committed-but-uncheckpointed batch replays idempotently") {
    import spark.implicits._
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-ud-crash-").toString)
    // two chunks of messy URLs; chunk 1 repeats chunk 0's canonical URLs
    // under different raw forms plus one genuinely new page
    val srcDir = Files.createTempDirectory("graft-ud-crash-src-")
    Seq((1L, "https://E.com/p?id=1&utm_source=x"), (2L, "https://e.com/q"))
      .toDF("doc_id", "url").coalesce(1)
      .write.parquet(srcDir.resolve("c0").toString)
    Seq((10L, "HTTPS://WWW.e.COM:443/p/?id=1"), (11L, "https://e.com/new"))
      .toDF("doc_id", "url").coalesce(1)
      .write.parquet(srcDir.resolve("c1").toString)
    val ck = Files.createTempDirectory("graft-ud-crash-ck-").toString
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.resolve("c0").toString).schema
    def run(): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        try {
          val stream = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
          val q = loader.startUrlDeduped(stream, "main", "pages",
            cfg = WriteConfig(retryUnitMs = 1), queryName = "udx",
            checkpoint = Some(ck))
          try q.awaitTermination() finally q.stop()
          done = true
        } catch {
          // the manager releases a terminated query's checkpoint claim
          // asynchronously; a restart on the same checkpoint can race it
          case e: org.apache.spark.sql.streaming.StreamingQueryException
              if e.getMessage.contains("concurrently using") && attempts < 40 =>
            attempts += 1; Thread.sleep(250)
        }
      }
    }
    run()
    val t = cat.loadTable("main", "pages")
    val got = t.read().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "https://e.com/p?id=1"), (2L, "https://e.com/q"),
      (11L, "https://e.com/new")), got)
    // crash window: last table commit landed, checkpoint marker did not —
    // restart replays that batch id and must commit NOTHING new
    val committed = t.metadata.snapshots.flatMap(_.loadId)
    val lastBatch = committed.map(_.stripPrefix("udx-batch-").toInt).max
    val marker = java.nio.file.Paths.get(ck, "commits", lastBatch.toString)
    assert(java.nio.file.Files.deleteIfExists(marker), s"no marker $marker")
    run()
    val t2 = cat.loadTable("main", "pages")
    assert(t2.metadata.snapshots.flatMap(_.loadId) == committed,
      "replayed batch must be skipped, not re-committed")
    assert(t2.read().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == got)
  }

  test("near-dedup stream: mismatched band-index parameters fail loudly, never silently re-admit") {
    // a bkey index built under different numHashes/bands produces keys
    // that simply never match — zero candidates, every duplicate
    // re-admitted. The creation stamp must turn that silent drift into
    // a loud failure.
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 30)
    val srcDir = Files.createTempDirectory("graft-nd-mm-src-")
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-mm-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    def stream() = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q1 = loader.startNearDeduped(stream(), "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "mm1",
      checkpoint = Some(Files.createTempDirectory("graft-nd-mm-ck1-").toString))
    try q1.awaitTermination() finally q1.stop()
    // creation stamp present
    val props = cat.loadTable("main", "ds_bands").metadata.properties
    assert(props.get(graft.llmops.Dedup.NumHashesProp).contains("64") &&
      props.get(graft.llmops.Dedup.BandsProp).contains("32"),
      s"band index must stamp its creation parameters: $props")
    // second pipeline with DIFFERENT bands must refuse the index
    val q2 = loader.startNearDeduped(stream(), "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "mm2",
      checkpoint = Some(Files.createTempDirectory("graft-nd-mm-ck2-").toString),
      bands = 16)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.awaitTermination() finally q2.stop()
    }
    assert(e.getMessage.contains("band index") ||
      Option(e.getCause).exists(_.getMessage.contains("band index")),
      s"mismatch must name the band index: ${e.getMessage}")
  }

  test("near-dedup stream: expectedCorpusDocs derives the band index's bucket count") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 20)
    val srcDir = Files.createTempDirectory("graft-nd-buck-src-")
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-nd-buck-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    // a pipeline expecting a 100M-doc corpus: bucket[256] per the
    // doctrine (32 bands x 16 B rows, ~256 MB/bucket target)
    val q = loader.startNearDeduped(stream, "main", "dc", "ds",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "ndk",
      checkpoint = Some(Files.createTempDirectory("graft-nd-buck-ck-").toString),
      expectedCorpusDocs = Some(100000000L))
    try q.awaitTermination() finally q.stop()
    val spec = cat.loadTable("main", "ds_bands").metadata.partitionSpec
    assert(spec.exists(f => f.source == "bkey" && f.transform == "bucket" &&
      f.param.contains(256)),
      s"bucket count must derive from the expected corpus: $spec")
  }

  test("semantic-dedup stream: crash between vecs and assign commits replays to the identical keep-set") {
    import spark.implicits._
    val vecs = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    val srcDir = Files.createTempDirectory("graft-sd-crash-src-")
    vecs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-sd-crash-").toString)
    val w = new graft.write.GraftWriter(cat)
    // crash window: batch 0's VECS commit landed under the stream's
    // loadId, the assignment commit (and the bootstrap centroid commit)
    // did not
    w.writeTable("main", "vc", Seq(vecs), graft.write.Append,
      WriteConfig(retryUnitMs = 1), "sdx-batch-0")
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = loader.startSemanticDeduped(stream, "main", "vc", "va",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "sdx",
      checkpoint = Some(Files.createTempDirectory("graft-sd-crash-ck-").toString))
    try q.awaitTermination() finally q.stop()
    // vecs: no double-commit
    val vc = cat.loadTable("main", "vc")
    assert(vc.metadata.snapshots.size == 1,
      s"replay double-committed vecs: ${vc.metadata.snapshots.map(_.loadId)}")
    // centroids bootstrapped during the replay, k rows + creation stamp
    val cents = cat.loadTable("main", "va_centroids")
    assert(cents.read().count() == 8L)
    assert(cents.metadata.properties
      .get(StreamingLoader.SemDedupKProp).contains("8"))
    assert(cents.metadata.properties
      .get(StreamingLoader.SemDedupDimProp).contains("64"))
    // assignment committed the MISSING half under the same loadId, with
    // the identical keep-set and the identity(cluster) SPJ layout
    val va = cat.loadTable("main", "va")
    assert(va.metadata.snapshots.size == 1 &&
      va.metadata.snapshots.head.loadId.contains("sdx-batch-0"))
    assert(va.metadata.partitionSpec.exists(f =>
      f.source == "cluster" && f.transform == "identity"),
      s"assignment table must carry identity(cluster): ${va.metadata.partitionSpec}")
    val aIds = va.read().select("vec_id").as[Long].collect().toSet
    val vIds = vc.read().select("vec_id").as[Long].collect().toSet
    assert(aIds == vIds, "assignment keep-set must equal the vecs keep-set")
  }

  test("semantic-dedup stream: cross-batch exact copy absorbed; committed assignment SPJ-resolves") {
    import spark.implicits._
    val vecs = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val srcDir = Files.createTempDirectory("graft-sd-spj-src-")
    vecs.filter(col("vec_id") < 30).coalesce(1)
      .write.parquet(srcDir.resolve("c0").toString)
    vecs.filter(col("vec_id") >= 30)
      .union(vecs.filter(col("vec_id") === 5)
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding")))
      .coalesce(1).write.parquet(srcDir.resolve("c1").toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-sd-spj-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.resolve("c0").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = loader.startSemanticDeduped(stream, "main", "vc", "va",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "sdj",
      checkpoint = Some(Files.createTempDirectory("graft-sd-spj-ck-").toString))
    try q.awaitTermination() finally q.stop()
    val ids = cat.loadTable("main", "vc").read()
      .select("vec_id").as[Long].collect().toSet
    assert(!ids.contains(9000005L),
      "cross-batch exact copy must be absorbed (cosine 1, same argmin cluster)")
    assert(ids.count(_ < 9000000L) >= 55,
      "original vectors are not near-dups of each other at threshold 0.4")
    // plan pin: the committed identity(cluster) assignment table joined
    // on cluster = ONE exchange (the probing side), corpus map-only
    val iso = spark.newSession()
    iso.conf.set("spark.sql.catalog.g_sdj",
      classOf[graft.catalog.GraftSparkCatalog].getName)
    iso.conf.set("spark.sql.catalog.g_sdj.warehouse",
      cat.warehousePath.toString)
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val assignTbl = iso.table("g_sdj.main.va")
    val probe = iso.range(0, 8).select(col("id").cast("int").as("cluster"))
    val j = probe.join(assignTbl.select("cluster", "vec_id"), Seq("cluster"))
    val n = graft.plans.PlanOps.shuffles(j)
    assert(n == 1,
      s"committed assignment table must SPJ-resolve one-sided, got $n:\n" +
        j.queryExecution.executedPlan)
  }

  test("semantic-dedup state: auto-compact opt-in, orphan assignments prunable") {
    import spark.implicits._
    val vecs = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    val srcDir = Files.createTempDirectory("graft-sd-life-src-")
    vecs.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-sd-life-").toString)
    val loader = new StreamingLoader(cat)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = loader.startSemanticDeduped(stream, "main", "vc", "va",
      cfg = WriteConfig(retryUnitMs = 1), queryName = "sdl",
      checkpoint = Some(Files.createTempDirectory("graft-sd-life-ck-").toString))
    try q.awaitTermination() finally q.stop()
    assert(cat.loadTable("main", "va").metadata.properties
      .get(graft.write.Maintenance.AutoCompactProp).contains("true"),
      "assignment table must opt into auto-compact")
    // state compaction: float32 sources commit float32 state (widening
    // back to double is exact, so dedup results are bit-identical while
    // the dominant state table halves)
    cat.loadTable("main", "va").read().schema("v").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => ()
      case other => fail(s"float source must commit float state, got $other")
    }
    // erase half the corpus, then prune the assignment table down to it
    val w = new graft.write.GraftWriter(cat)
    w.deleteWhere("main", "vc", col("vec_id") < 20,
      WriteConfig(retryUnitMs = 1))
    val pruned = loader.pruneOrphanAssignments("main", "vc", "va",
      WriteConfig(retryUnitMs = 1))
    assert(pruned > 0, "erased vectors must have had assignments to prune")
    val live = cat.loadTable("main", "vc").read()
      .select("vec_id").as[Long].collect().toSet
    val assigned = cat.loadTable("main", "va").read()
      .select("vec_id").as[Long].collect().toSet
    assert(assigned == live, "pruned assignment table must equal the live set")
    // layout preserved by the prune's replace commit
    assert(cat.loadTable("main", "va").metadata.partitionSpec.exists(f =>
      f.source == "cluster" && f.transform == "identity"))
    assert(loader.pruneOrphanAssignments("main", "vc", "va",
      WriteConfig(retryUnitMs = 1)) == 0L, "second prune must be a no-op")
  }
}
