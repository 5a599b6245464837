package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.catalog.GraftCatalog
import graft.write.{Append, Disposition, GraftWriter, WriteConfig}

/** Structured-Streaming veneer over the batch commit protocol.
  *
  * The reference has NO continuous mode (SURVEY §2.9): every
  * `pipeline.run()` is a discrete load. The natural Spark extension is a
  * `foreachBatch` sink where each micro-batch becomes one load — one
  * snapshot per table per micro-batch — so streaming ingestion inherits
  * the exact same atomicity, schema evolution, casting, and disposition
  * semantics as batch loads, and the table stays readable/time-travelable
  * between batches.
  */
final class StreamingLoader(catalog: GraftCatalog) {

  private val writer = new GraftWriter(catalog)

  /** Lineage truncation for multi-consumer per-batch intermediates (the
    * keep-sets and incoming signatures): `localCheckpoint(false)` by
    * default — it truncates the logical plan so each downstream write
    * stops re-analyzing the full SPJ-join lineage (measured r14: ~half of
    * each heavy commit-loop entry was driver-side planning).
    *
    * FAILURE DOCTRINE (r15): local-checkpoint blocks live on executors
    * un-replicated and are NOT recomputable — losing an executor
    * mid-batch fails the micro-batch instead of recomputing lineage.
    * That failure is SAFE here: the unit of retry is the whole
    * foreachBatch body (Structured Streaming re-runs the batch id; batch
    * loaders re-run the load), which re-derives every checkpointed frame
    * from source data, and the per-table loadId ledger makes the re-run
    * idempotent — already-committed halves are skipped, never
    * re-applied. That replay path is exactly the one the StreamingSpec
    * crash-window cases pin. On deployments where executor loss is
    * ROUTINE rather than exceptional (dynamic allocation, spot
    * instances), set [[StreamingLoader.LineageTruncationKey]] to
    * "persist": same results, recomputable lineage, at the cost of
    * per-action re-planning. */
  private def truncateLineage(df: DataFrame): DataFrame =
    if (lineageMode(df.sparkSession) == "persist") df.persist()
    else df.localCheckpoint(false)

  /** The configured [[StreamingLoader.LineageTruncationKey]], validated:
    * a misspelt mode fails loudly instead of silently running the
    * default. Checked when a stream starts and at every use. */
  private def lineageMode(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get(StreamingLoader.LineageTruncationKey, "localCheckpoint") match {
      case m @ ("localCheckpoint" | "persist") => m
      case other => throw new IllegalArgumentException(
        s"${StreamingLoader.LineageTruncationKey}='$other': expected " +
          "'localCheckpoint' or 'persist'")
    }

  /** Attach a streaming DataFrame to a catalog table: every micro-batch
    * commits as load `<queryName>-batch-<id>`. Returns the started query
    * (caller owns lifecycle). */
  /** `outputMode` matters for aggregated streams: "update" emits only the
    * windows changed by the micro-batch, which composes with a Merge
    * ("upsert") disposition keyed on the window identity — the
    * state-bounded pattern for unbounded streams (complete mode holds
    * every window ever seen in memory forever). */
  def start(stream: DataFrame, ns: String, table: String,
      disposition: Disposition = Append,
      cfg: WriteConfig = WriteConfig(),
      queryName: String = "graft-stream",
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      outputMode: Option[String] = None): StreamingQuery = {
    val w = stream.writeStream
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val loadId = s"$queryName-batch-$batchId"
        // exactly-once across restarts: a crash between the table commit
        // and the checkpoint commit makes Spark REPLAY this batch id on
        // recovery — the snapshot log is the committed-batch ledger, so
        // an already-present loadId is skipped, never re-applied (the
        // same idempotence contract Iceberg's streaming sink keeps via
        // its batch-id snapshot property)
        // EXACT loadId match only: a monotonic "any later batch id"
        // heuristic would silently DROP data when a user wipes the
        // checkpoint to reprocess (batch ids restart at 0) or when two
        // queries share a queryName — worse than the duplicate it
        // prevents. Residual caveat: if THIS batch's snapshot is
        // expired between a crash and the restart (requires a
        // maintenance commit landing after it AND aggressive expiry in
        // that window), the replay cannot be detected — keep expiry
        // retention above restart latency for streaming tables.
        if (!catalog.hasLoad(ns, table, loadId)) {
          // the commit path runs several actions (emptiness probe, dup
          // check, staging write, stats pass) — without persisting, EACH
          // action re-executes the whole upstream plan including any
          // stateful aggregation (measured: 5x state-store replays per
          // micro-batch)
          batch.persist()
          try {
            if (!batch.isEmpty)
              writer.writeTable(ns, table, Seq(batch), disposition, cfg,
                loadId = loadId)
          } finally batch.unpersist()
        }
        ()
      }
    outputMode.foreach(w.outputMode)
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Streaming NEAR-dup dedup against a committed corpus: each
    * micro-batch of documents is deduped against the committed MinHash
    * signature table ([[graft.llmops.Dedup.incrementalNearDedup]]:
    * band-bucket join + signature-agreement verification, corpus text
    * never rescanned), then only the surviving documents — and their
    * signatures — are appended. The stream holds ZERO Spark state (no
    * stateful operators, no watermark): the committed signature table IS
    * the dedup state, so it is bounded by the survivor count, survives
    * restarts for free, and is shared by every other reader/writer of
    * the corpus — the property `dropDuplicates` state can never give a
    * multi-pipeline corpus.
    *
    * Crash consistency: docs commit BEFORE sigs under the same loadId,
    * and each table's snapshot ledger is consulted independently on
    * replay — if a crash lands between the two commits, the replayed
    * batch recomputes the identical keep-set (the signature table still
    * excludes this batch) and commits only the missing half. */
  /** Crawl-ingest URL dedup stream: per micro-batch, canonicalize URLs
    * ([[graft.llmops.TextOps.canonicalizeUrl]]), keep ONE winner per
    * canonical within the batch (hash aggregate, min doc_id), drop
    * canonicals the committed table already holds (anti-join), append
    * the survivors. ZERO Spark streaming state — the committed table IS
    * the dedup state, restart-durable and bounded by distinct-URL count;
    * the [[startNearDeduped]] pattern with the canonical URL as the
    * exact key. Idempotent per batch through the load-id ledger. */
  def startUrlDeduped(stream: DataFrame, ns: String, pagesTable: String,
      cfg: WriteConfig = WriteConfig(),
      queryName: String = "graft-url-dedup",
      checkpoint: Option[String] = None,
      urlCol: String = "url"): StreamingQuery = {
    val w = stream.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val loadId = s"$queryName-batch-$batchId"
        if (!catalog.hasLoad(ns, pagesTable, loadId) && !batch.isEmpty) {
          val winners = batch
            .withColumn("canonical_url",
              graft.llmops.TextOps.canonicalizeUrl(col(urlCol)))
            .groupBy(col("canonical_url"))
            .agg(min(col("doc_id")).as("doc_id"))
          val fresh =
            if (!catalog.tableExists(ns, pagesTable)) winners
            else winners.join(
              catalog.loadTable(ns, pagesTable).read()
                .select(col("canonical_url")),
              Seq("canonical_url"), "left_anti")
          writer.writeTable(ns, pagesTable,
            Seq(fresh.select(col("doc_id"), col("canonical_url"))),
            Append, cfg, loadId)
        }
        ()
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Near-dedup ingest with ZERO Spark state: the committed corpus keeps
    * THREE tables — docs, MinHash signatures (doc_id, sig), and an LSH
    * band index (doc_id, bkey) committed with a `bucket[bandBuckets]`
    * partition hint on `bkey`. The index is what makes the per-batch
    * candidate join shuffle-free on the corpus side: its scan reports
    * `KeyGroupedPartitioning(bucket(N, bkey))` (GraftScan) and with one-
    * sided SPJ shuffle enabled Spark routes ONLY the incoming batch's
    * band keys into the committed layout — the corpus index is read
    * map-only, in place, every batch, forever. Commit order within a
    * load is docs → sigs → bands; a crash window leaving bands behind is
    * repaired on replay by re-deriving this load's index rows from the
    * committed signatures (doc_ids are unique), never by re-running the
    * dedup against the already-updated corpus. */
  /** `expectedCorpusDocs`, when given, derives the index's `bucket[N]`
    * from the corpus the pipeline expects to hold
    * ([[graft.llmops.Dedup.defaultBandBuckets]]) — bucket counts are
    * creation-time constants, so size them for the DESTINATION corpus,
    * not the first batch; `bandBuckets` is the explicit override. */
  def startNearDeduped(stream: DataFrame, ns: String, docsTable: String,
      sigsTable: String, cfg: WriteConfig = WriteConfig(),
      queryName: String = "graft-near-dedup",
      checkpoint: Option[String] = None,
      numHashes: Int = 64, bands: Int = 32,
      simThreshold: Double = 0.6,
      bandBuckets: Int = 16,
      expectedCorpusDocs: Option[Long] = None): StreamingQuery = {
    lineageMode(stream.sparkSession)
    val effectiveBuckets = expectedCorpusDocs
      .map(graft.llmops.Dedup.defaultBandBuckets(_, bands))
      .getOrElse(bandBuckets)
    val bandsTable = sigsTable + "_bands"
    val bandCfg = cfg.copy(partitions =
      Seq(graft.partition.PartitionHint.bucket(effectiveBuckets, "bkey")))
    val bandPropStamp = Map(
      graft.llmops.Dedup.NumHashesProp -> numHashes.toString,
      graft.llmops.Dedup.BandsProp -> bands.toString)
    val w = stream.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val loadId = s"$queryName-batch-$batchId"
        def committed(table: String): Boolean = catalog.hasLoad(ns, table, loadId)
        val docsDone = committed(docsTable)
        val sigsDone = committed(sigsTable)
        val bandsDone = committed(bandsTable)
        if (!(docsDone && sigsDone && bandsDone)) {
          batch.persist()
          try if (!batch.isEmpty) {
            // localCheckpoint (not persist): the signatures feed the
            // keep-set join, the sigless anti-join, and TWO table writes —
            // each of those actions re-analyzes the whole upstream plan
            // when it is merely cached, and with the SPJ corpus scan in
            // the lineage that per-action planning cost rivaled the jobs
            // themselves (measured: ~5.5 s driver-side of a 16 s entry).
            // Checkpointing truncates the lineage to a leaf; blocks are
            // batch-sized and freed with the session like any cache.
            val incSigs = truncateLineage(graft.llmops.Dedup
              .minHashSignatures(batch, numHashes = numHashes))
            locally {
              if (!(docsDone && sigsDone)) {
                val corpusSigs =
                  if (catalog.tableExists(ns, sigsTable))
                    catalog.loadTable(ns, sigsTable).read()
                  else incSigs.limit(0)
                // SPJ read of the committed index when it exists; a
                // pre-upgrade corpus (sigs without a bands table) falls
                // back to deriving bands from the signatures in-query.
                // The index is only trusted when its creation-time
                // parameter stamp matches this stream's parameters: a
                // bkey index built under different numHashes/bands
                // would produce ZERO candidates (hashes never match)
                // and silently re-admit every duplicate.
                val corpusIdx =
                  if (!catalog.tableExists(ns, bandsTable)) None
                  else {
                    val props =
                      catalog.loadTable(ns, bandsTable).metadata.properties
                    (props.get(graft.llmops.Dedup.NumHashesProp),
                      props.get(graft.llmops.Dedup.BandsProp)) match {
                      case (Some(nh), Some(b)) =>
                        require(nh == numHashes.toString &&
                          b == bands.toString,
                          s"committed band index $ns.$bandsTable was " +
                            s"built with numHashes=$nh/bands=$b but this " +
                            s"stream runs numHashes=$numHashes/" +
                            s"bands=$bands — bkeys would never match and " +
                            s"every duplicate would be re-admitted; match " +
                            s"the parameters or restage the index")
                        Some(spjRead(batch.sparkSession, ns, bandsTable))
                      // pre-stamp index (no recorded parameters): cannot
                      // validate — fall back to deriving bands from the
                      // signatures, which is parameter-correct by
                      // construction
                      case _ => None
                    }
                  }
                // checkpoint the keep-set: it feeds the docs, sigs, AND
                // bands writes — unpersisted, each write would re-run
                // the whole dedup join against the committed corpus, and
                // merely persisted, each write's every action would still
                // re-plan the full SPJ-join lineage (driver-side cost on
                // par with the jobs; see incSigs note above)
                val keep = truncateLineage(graft.llmops.Dedup
                  .incrementalNearDedup(incSigs, corpusSigs,
                    numHashes = numHashes, bands = bands,
                    simThreshold = simThreshold,
                    committedBandKeys = corpusIdx)
                  .filter(col("is_new")).select("doc_id"))
                locally {
                  // docs too short to shingle (< n words) get NO MinHash
                  // signature, so they never appear in `keep` — they must
                  // pass through unconditionally (they can't near-dup
                  // against anything), not be silently dropped from the
                  // corpus table
                  val sigless = batch.select(col("doc_id"))
                    .join(incSigs.select(col("doc_id")), Seq("doc_id"),
                      "left_anti")
                  if (!docsDone)
                    writer.writeTable(ns, docsTable,
                      Seq(batch.join(keep.union(sigless), "doc_id")),
                      Append, cfg, loadId)
                  val keptSigs = incSigs.join(keep, "doc_id")
                  // sigs ∥ bands (r15, guide §2.6): both writes read only
                  // checkpointed inputs and commit to DIFFERENT tables, so
                  // the bands write overlaps the sigs write instead of
                  // serializing behind it — per-batch commit fixed cost is
                  // what dominates trickle streams. The docs commit above
                  // stays strictly FIRST (it is the replay anchor). The new
                  // crash window this opens — bands committed, sigs not —
                  // replays to the IDENTICAL keep-set: candidates drawn
                  // from this batch's own early-committed band rows drop in
                  // the verify join because the signature table still
                  // excludes the batch (pinned by StreamingSpec "crash
                  // window: bands committed before sigs").
                  val bandsWrite = new java.util.concurrent.FutureTask[Unit](
                    () => if (!bandsDone) {
                      writer.writeTable(ns, bandsTable,
                        Seq(graft.llmops.Dedup.sigBandKeys(keptSigs,
                          numHashes = numHashes, bands = bands)),
                        Append, bandCfg, loadId)
                      ensureProps(ns, bandsTable, bandPropStamp,
                        cfg.retryUnitMs)
                      warnIfIndexOutgrown(ns, bandsTable, effectiveBuckets,
                        bands)
                    })
                  val bandsThread =
                    new Thread(bandsWrite, s"graft-bands-$loadId")
                  bandsThread.setDaemon(true)
                  bandsThread.start()
                  try {
                    if (!sigsDone)
                      writer.writeTable(ns, sigsTable,
                        Seq(keptSigs), Append, cfg, loadId)
                  } finally bandsThread.join() // both writes finish before
                    // the batch completes, even when the sigs write throws
                  try bandsWrite.get() // rethrow a bands-write failure
                  catch { case e: java.util.concurrent.ExecutionException =>
                    throw e.getCause }
                } // keep's checkpoint blocks are ContextCleaner-collected
                  // once the frame goes unreferenced (no unpersist API for
                  // local checkpoints)
                // lifecycle: a per-batch append trickle grows the file
                // population without bound — opt the state tables into
                // write-path self-compaction (fires on file_health, not
                // per batch)
                ensureAutoCompact(ns, sigsTable, cfg.retryUnitMs)
                ensureAutoCompact(ns, bandsTable, cfg.retryUnitMs)
              } else {
                // crash window: docs+sigs landed, bands did not. The
                // corpus signature table already contains this load's
                // kept docs, so re-running the dedup would self-match
                // everything — instead rebuild exactly this load's index
                // rows from the committed signatures of the batch's ids.
                val keptSigs = catalog.loadTable(ns, sigsTable).read()
                  .join(incSigs.select(col("doc_id")), Seq("doc_id"))
                writer.writeTable(ns, bandsTable,
                  Seq(graft.llmops.Dedup.sigBandKeys(keptSigs,
                    numHashes = numHashes, bands = bands)),
                  Append, bandCfg, loadId)
                ensureProps(ns, bandsTable, bandPropStamp, cfg.retryUnitMs)
                ensureAutoCompact(ns, bandsTable, cfg.retryUnitMs)
              }
            }
          } finally batch.unpersist()
        }
        ()
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Semantic (embedding-space) dedup ingest with ZERO Spark state —
    * the SemDeDup analogue of [[startNearDeduped]]. The committed corpus
    * keeps THREE tables: vectors (idCol, vecCol, …), a k-means
    * assignment table (idCol, cluster, v) committed under an
    * `identity(cluster)` partition hint (the one-sided-SPJ layout: the
    * corpus side of every batch's candidate join is served map-only in
    * place), and a k-row centroid table (cluster, centroid).
    *
    * Bootstrap: the FIRST batch trains fixed-iteration deterministic
    * Lloyd's and commits the centroids; every later batch LOADS the
    * committed centroids (k rows, driver-side) instead of re-running
    * k-means — per-batch work is one map-side assignment + the
    * cluster-equality join + exact-cosine verification. Re-training
    * under distribution drift is offline maintenance (new centroid
    * table + one full re-assign commit), never on the ingest path.
    *
    * Crash consistency: vectors commit BEFORE assignments under the same
    * loadId. A crash between the two replays deterministically — the
    * assignment table still excludes this batch, so the keep-set
    * recomputes EXACTLY (committed centroids are the frozen assignment
    * function) and only the missing half commits. A crash before the
    * centroid commit replays the whole bootstrap on the same batch
    * content (seeding is content-deterministic).
    *
    * `probes` = 2 turns on multi-probe candidate generation (the
    * near-copy recall lever — see SemanticDedupSpec's measured floor);
    * the committed corpus side stays single-assignment either way. */
  def startSemanticDeduped(stream: DataFrame, ns: String, vecsTable: String,
      assignTable: String, cfg: WriteConfig = WriteConfig(),
      queryName: String = "graft-sem-dedup",
      checkpoint: Option[String] = None,
      k: Int = 8, iters: Int = 3, threshold: Double = 0.4,
      probes: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery = {
    lineageMode(stream.sparkSession)
    import graft.llmops.SemanticDedup
    val centroidsTable = assignTable + "_centroids"
    val assignCfg = cfg.copy(partitions =
      Seq(graft.partition.PartitionHint.identity("cluster")))
    val w = stream.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val loadId = s"$queryName-batch-$batchId"
        def committed(table: String): Boolean = catalog.hasLoad(ns, table, loadId)
        val vecsDone = committed(vecsTable)
        val assignDone = committed(assignTable)
        if (!(vecsDone && assignDone)) {
          batch.persist()
          try if (!batch.isEmpty) {
            if (!catalog.tableExists(ns, centroidsTable)) {
              // corpus bootstrap: train once, commit the k-row table
              val cents = SemanticDedup.kmeansCentroids(batch, k, iters,
                idCol, vecCol)
              writer.writeTable(ns, centroidsTable,
                Seq(SemanticDedup.centroidsToDf(batch.sparkSession, cents)),
                Append, cfg, loadId)
              ensureProps(ns, centroidsTable, Map(
                StreamingLoader.SemDedupKProp -> cents.length.toString,
                StreamingLoader.SemDedupDimProp -> cents.head.length.toString),
                cfg.retryUnitMs)
            }
            val cents = SemanticDedup.loadCentroids(
              catalog.loadTable(ns, centroidsTable).read())
            // keep-set: new vectors = no committed corpus match at the
            // cosine threshold. First batch (no assignment table yet)
            // passes through whole — in-batch near-dups are a batch
            // pair job's business, same contract as startNearDeduped.
            // localCheckpoint (not persist): the keep-set feeds BOTH table
            // writes, and each write's every action would re-plan the full
            // SPJ-join lineage when merely cached — same measured
            // driver-side planning cost as startNearDeduped's keep-set
            val keep = truncateLineage(
              if (!catalog.tableExists(ns, assignTable))
                batch.select(col(idCol))
              else SemanticDedup.incrementalSemanticDedup(batch,
                  spjRead(batch.sparkSession, ns, assignTable),
                  cents, threshold, idCol, vecCol, probes)
                .filter(col("is_new")).select(col(idCol)))
            locally {
              if (!vecsDone)
                writer.writeTable(ns, vecsTable,
                  Seq(batch.join(keep, idCol)), Append, cfg, loadId)
              if (!assignDone) {
                // state compaction: commit the vector column at SOURCE
                // precision — when the stream's embeddings are float32,
                // float→double widening is exact, so verification reads
                // back bit-identical doubles while the dominant state
                // table halves (256 B/vec at dim=64). Double-precision
                // sources keep doubles (a downcast would silently lose
                // bits).
                val srcIsFloat = batch.schema(vecCol).dataType match {
                  case org.apache.spark.sql.types.ArrayType(
                    org.apache.spark.sql.types.FloatType, _) => true
                  case _ => false
                }
                val assigned = SemanticDedup.assign(
                  batch.join(keep, idCol), cents, idCol, vecCol)
                writer.writeTable(ns, assignTable,
                  Seq(if (srcIsFloat)
                    assigned.withColumn("v",
                      transform(col("v"), _.cast("float")))
                  else assigned),
                  Append, assignCfg, loadId)
                ensureAutoCompact(ns, assignTable, cfg.retryUnitMs)
              }
            }
          } finally batch.unpersist()
        }
        ()
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Retention maintenance for the semantic-dedup assignment table: the
    * assignment analogue of [[pruneOrphanSignatures]] — after
    * deletes/GDPR erasure on the vectors table, rewrite the assignment
    * table down to the live vector set (one replace commit preserving
    * the identity(cluster) layout). The centroid table is k rows and
    * never holds per-document state — nothing to prune there. Returns
    * the number of orphaned vectors pruned. */
  def pruneOrphanAssignments(ns: String, vecsTable: String,
      assignTable: String, cfg: WriteConfig = WriteConfig(),
      idCol: String = "vec_id"): Long = {
    val liveIds = catalog.loadTable(ns, vecsTable).read().select(idCol)
    val assigned = catalog.loadTable(ns, assignTable).read()
    val orphans = assigned.select(idCol)
      .join(liveIds, Seq(idCol), "left_anti").count()
    if (orphans == 0L) return 0L
    val loadId =
      s"prune-assign-${java.util.UUID.randomUUID().toString.take(8)}"
    writer.writeTable(ns, assignTable,
      Seq(assigned.join(liveIds, Seq(idCol), "left_semi")),
      graft.write.Replace,
      cfg.copy(partitions =
        Seq(graft.partition.PartitionHint.identity("cluster"))), loadId)
    orphans
  }

  /** Opt a loader-managed state table into write-path self-compaction
    * (no-op once set; property-only CAS commit). */
  private def ensureAutoCompact(ns: String, table: String,
      retryUnitMs: Long): Unit =
    ensureProps(ns, table,
      Map(graft.write.Maintenance.AutoCompactProp -> "true"), retryUnitMs)

  /** Metadata-only outgrowth check on the committed band index: warn
    * once the average per-bucket share passes
    * [[graft.llmops.Dedup.BandBucketWarnBytes]]. Correctness never
    * depends on N, but corpus-side task sizes grow linearly past it —
    * the restage path is a one-off replace commit of the bands table
    * under `bucket[Dedup.defaultBandBuckets(corpusDocs)]`. */
  private def warnIfIndexOutgrown(ns: String, bandsTable: String,
      bandBuckets: Int, bands: Int): Unit = {
    val rows = catalog.loadTable(ns, bandsTable).rowCount
    val perBucket = rows * graft.llmops.Dedup.BandIndexRowBytes /
      math.max(1, bandBuckets)
    if (perBucket > graft.llmops.Dedup.BandBucketWarnBytes)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"band index $ns.$bandsTable has outgrown bucket[$bandBuckets]: " +
          s"~$perBucket B/bucket (warn threshold " +
          s"${graft.llmops.Dedup.BandBucketWarnBytes}). Restage the index " +
          s"with bucket[${graft.llmops.Dedup.defaultBandBuckets(
            rows / math.max(1, bands), bands)}] (one replace commit, " +
          s"O(index bytes)) to keep corpus-side SPJ tasks bounded.")
  }

  /** Stamp table properties once (no-op when already present with the
    * same values; property-only CAS commit otherwise). Keys already set
    * to a DIFFERENT value are left alone — the creation stamp is the
    * record, not a mutable setting. */
  private def ensureProps(ns: String, table: String,
      props: Map[String, String], retryUnitMs: Long): Unit = {
    val t = catalog.loadTable(ns, table)
    val missing = props.filterNot { case (k, _) =>
      t.metadata.properties.contains(k)
    }
    if (missing.nonEmpty)
      t.commit(m => m.copy(properties =
        missing.foldLeft(m.properties) { case (ps, (k, v)) =>
          if (ps.contains(k)) ps else ps + (k -> v)
        }), unitMs = retryUnitMs)
  }

  /** Retention maintenance for the near-dedup state tables: signatures
    * (and their band-index rows) of documents no longer present in the
    * corpus table are never pruned by the ingest path itself — after
    * deletes/GDPR erasure on the docs table, run this to rewrite the
    * signature and band tables down to the live document set. One
    * replace commit per table, O(signature table) = ~0.5% of corpus
    * bytes — an occasional maintenance cost, never on the ingest path.
    * Returns the number of orphaned documents pruned. */
  def pruneOrphanSignatures(ns: String, docsTable: String,
      sigsTable: String, cfg: WriteConfig = WriteConfig()): Long = {
    val bandsTable = sigsTable + "_bands"
    val docIds = catalog.loadTable(ns, docsTable).read().select("doc_id")
    val sigs = catalog.loadTable(ns, sigsTable).read()
    val orphans = sigs.select("doc_id")
      .join(docIds, Seq("doc_id"), "left_anti").count()
    if (orphans == 0L) return 0L
    val loadId = s"prune-sigs-${java.util.UUID.randomUUID().toString.take(8)}"
    writer.writeTable(ns, sigsTable,
      Seq(sigs.join(docIds, Seq("doc_id"), "left_semi")),
      graft.write.Replace, cfg, loadId)
    if (catalog.tableExists(ns, bandsTable)) {
      val bandsLive = catalog.loadTable(ns, bandsTable).read()
        .join(docIds, Seq("doc_id"), "left_semi")
      writer.writeTable(ns, bandsTable, Seq(bandsLive),
        graft.write.Replace,
        cfg.copy(partitions = catalog.loadTable(ns, bandsTable)
          .metadata.partitionSpec.collect {
            case f if f.transform == "bucket" =>
              graft.partition.PartitionHint.bucket(f.param.getOrElse(16),
                f.source)
          }), loadId)
    }
    orphans
  }

  /** Catalog-routed (DSv2) read of `ns.table`, with storage-partitioned
    * join and one-sided SPJ shuffle enabled, so a scan of a bucketed
    * table reports its `KeyGroupedPartitioning` and a join against it
    * shuffles only the other side. Registers a deterministic catalog
    * name for this loader's warehouse; conf mutations land on the
    * MICRO-BATCH session (Structured Streaming runs `foreachBatch` on a
    * cloned session), never on the user's. */
  private def spjRead(sess: SparkSession, ns: String,
      table: String): DataFrame = {
    val wh = catalog.warehousePath.toString
    val catName =
      "graft_spj_" + java.lang.Integer.toHexString(wh.hashCode)
    sess.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.catalog.GraftSparkCatalog].getName)
    sess.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    sess.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    sess.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    sess.table(s"`$catName`.`$ns`.`$table`")
  }
}

object StreamingLoader {

  /** How per-batch multi-consumer intermediates cut their lineage:
    * "localCheckpoint" (default — fastest planning; executor loss fails
    * the batch, which the loadId ledger replays idempotently) or
    * "persist" (recomputable lineage for deployments with routine
    * executor churn). See [[StreamingLoader.truncateLineage]]'s doctrine
    * note; results are identical either way (pinned by StreamingSpec).
    * Any other value throws IllegalArgumentException. */
  val LineageTruncationKey = "spark.graft.stream.lineageTruncation"

  /** Creation-time stamp on the committed centroid table: the k and dim
    * the corpus was bootstrapped with (introspection + drift audits). */
  val SemDedupKProp = "graft.semdedup.k"
  val SemDedupDimProp = "graft.semdedup.dim"

  /** Read the `events` test table as a file stream with the ns-timestamp
    * fix applied (same handling as graft.Tables.t). FileStreamSource wants
    * a directory, so the single file is exposed through a symlink in a
    * scratch dir (testdata stays untouched). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // the legacy nanos conf only matters while schemas are resolved (the
    // explicit stream schema carries ts as LongType afterwards; verified
    // by running a stream to completion against an un-flipped session) —
    // resolve it on a cloned session whose SQLConf is isolated, so a
    // concurrent query in the caller's session can never observe the flag
    val schema = nanosSchemaOf(spark, s"$dir/events.parquet")
    val streamDir = registerTempDir(
      java.nio.file.Files.createTempDirectory("graft-events-src-"))
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val raw = spark.readStream.schema(schema).parquet(streamDir.toString)
    // NTZ→UTC after the nanos rebuild: watermarks reject TIMESTAMP_NTZ
    // (same normalization as graft.Tables.t; session TZ is UTC)
    graft.Tables.ntzToUtc(
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw)
  }

  /** Schema of a parquet file that may carry TIMESTAMP(NANOS) columns,
    * resolved with `nanosAsLong` set on a CLONED session (`newSession()`
    * shares the SparkContext but isolates SQLConf) — the shared session's
    * conf is never touched. */
  private def nanosSchemaOf(spark: SparkSession, path: String):
      org.apache.spark.sql.types.StructType = {
    val isolated = spark.newSession()
    isolated.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    isolated.read.parquet(path).schema
  }

  // Scratch dirs staged for streaming sources, deleted on JVM exit (they
  // are tiny re-stagings of test tables; streams may read them for the
  // whole session lifetime, so exit is the earliest safe point).
  private val tempDirs = java.util.concurrent.ConcurrentHashMap
    .newKeySet[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach(p => deleteRecursively(p))))
  }
  private def registerTempDir(p: java.nio.file.Path): java.nio.file.Path = {
    tempDirs.add(p); p
  }

  /** Staged source dirs currently registered (JVM-lifetime artifacts the
    * memoization amortizes across streams) — the hermetic bench excludes
    * these from its inter-entry scratch cleanup so every streaming entry
    * doesn't re-pay the staging pass. */
  def registeredTempDirs: Set[java.nio.file.Path] = {
    val out = scala.collection.mutable.Set.empty[java.nio.file.Path]
    tempDirs.forEach(p => out += p)
    out.toSet
  }
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.catalog.PathIO.walk(p).sortBy(_.toString).reverse
      .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch {
        case _: java.io.IOException => ()
      })

  /** The `events` table re-staged as `chunks` time-contiguous parquet
    * files in a scratch dir, exposed as a file stream delivering ONE file
    * per micro-batch — a deterministic multi-batch source for exercising
    * watermark advancement and state eviction. Chunks are contiguous in
    * event time (ntile over the ts ordering), so no event ever arrives
    * behind the watermark and update-mode results stay batch-exact. */
  def eventsChunkedStream(spark: SparkSession, dir: String,
      chunks: Int = 4): DataFrame =
    eventsChunkedStream(spark, dir, chunks, duplicateRows = false)

  // Staged chunk directories are immutable once written: memoize per
  // (source dir, chunks, duplicateRows) so repeated streams over the same
  // shape (best-of-N benchmarking, spec re-runs) pay the range-shuffle
  // staging pass once per JVM. Each stream still gets its own checkpoint,
  // so every query re-reads all chunks from batch 0.
  private val stagedChunks =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Boolean), String]()

  /** `duplicateRows = true` plants an exact copy of every event (same
    * event_id, same ts) in the stream — the at-least-once-delivery shape
    * a streaming dedup has to absorb. Copies sort adjacent to their
    * originals, so they always arrive within the watermark horizon. */
  def eventsChunkedStream(spark: SparkSession, dir: String,
      chunks: Int, duplicateRows: Boolean): DataFrame = {
    // self-healing memoization: an external cleaner (the hermetic bench
    // wipes graft-* scratch between entries) may delete a staged dir
    // while this JVM's cache still points at it — re-stage, never hand
    // out a dangling path
    val stagedDir = stagedChunks.compute((dir, chunks, duplicateRows),
      (_, v) =>
        if (v != null && java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(v))) v
        else stageChunks(spark, dir, chunks, duplicateRows))
    val schema = spark.read.parquet(stagedDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
  }

  private def stageChunks(spark: SparkSession, dir: String,
      chunks: Int, duplicateRows: Boolean): String = {
    // read on a conf-isolated clone (see nanosSchemaOf) — the caller's
    // session never sees the nanos flag, even transiently
    val isolated = spark.newSession()
    isolated.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = isolated.read.parquet(s"$dir/events.parquet")
    // NTZ→UTC before staging, so the staged chunks (and every stream
    // schema derived from them) carry watermark-compatible TIMESTAMP
    val ev = graft.Tables.ntzToUtc(
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw)
    val streamDir = registerTempDir(
      java.nio.file.Files.createTempDirectory("graft-events-chunks-"))
    val withDups = if (duplicateRows) ev.unionAll(ev) else ev
    // ONE range-shuffle pass: part-0000k holds the k-th contiguous time
    // range, so renaming parts in order yields time-ordered chunk files
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunk-stage-")
    withDups.repartitionByRange(chunks, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = graft.catalog.PathIO.list(tmp)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    parts.zipWithIndex.foreach { case (p, c) =>
      val target = streamDir.resolve(f"chunk-$c%03d.parquet")
      java.nio.file.Files.move(p, target)
      // FileStreamSource orders by modification time: make it explicit
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + c * 60000L))
    }
    deleteRecursively(tmp) // the shuffle-stage leftovers (_SUCCESS, CRCs)
    streamDir.toString
  }

  /** The `documents` table re-staged as `chunks` contiguous doc_id-range
    * parquet files delivering one file per micro-batch, with NEAR-COPIES
    * planted across batch boundaries: chunk k (k >= 1) carries a copy of
    * every 5th document of chunk k-1 re-keyed to `id + copyIdOffset`
    * with one appended token (shingle-Jaccard ~0.9) — the cross-batch
    * near-duplicate shape a streaming near-dedup must absorb. Chunk
    * boundaries are EXACT doc_id ranges (`floor(doc_id / ceil(n/chunks))`)
    * so an oracle can re-derive chunk membership from ids alone. */
  def docsChunkedStream(spark: SparkSession, dir: String,
      chunks: Int = 4, copyIdOffset: Long = 7000000L): DataFrame = {
    // self-healing memoization — see eventsChunkedStream
    // key on EVERY staging parameter: the planted-copy ids depend on
    // copyIdOffset, so a memo keyed only on (dir, chunks) would hand a
    // second caller data staged under the first caller's offset
    val stagedDir = stagedDocChunks.compute((dir, chunks, copyIdOffset),
      (_, v) =>
        if (v != null && java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(v))) v
        else stageDocChunks(spark, dir, chunks, copyIdOffset))
    val schema = spark.read.parquet(stagedDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
  }

  private val stagedDocChunks =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long), String]()

  /** The `embeddings` table re-staged as `chunks` contiguous
    * vec_id-range parquet files delivering one file per micro-batch,
    * with EXACT COPIES planted across batch boundaries: chunk k (k >= 1)
    * carries a copy of every 9th vector of chunk k-1 re-keyed to
    * `id + copyIdOffset` with the embedding unchanged (cosine exactly 1,
    * same argmin cluster structurally) — the cross-batch duplicate shape
    * a streaming semantic dedup must absorb. Chunk boundaries are exact
    * vec_id ranges so an oracle re-derives chunk membership from ids. */
  def embeddingsChunkedStream(spark: SparkSession, dir: String,
      chunks: Int = 4, copyIdOffset: Long = 9000000L): DataFrame = {
    val stagedDir = stagedEmbChunks.compute((dir, chunks, copyIdOffset),
      (_, v) =>
        if (v != null && java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(v))) v
        else stageEmbChunks(spark, dir, chunks, copyIdOffset))
    val schema = spark.read.parquet(stagedDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
  }

  private val stagedEmbChunks =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long), String]()

  private def stageEmbChunks(spark: SparkSession, dir: String,
      chunks: Int, copyIdOffset: Long): String = {
    val vecs = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    val per = math.max(1L, math.ceil(n.toDouble / chunks).toLong)
    val streamDir = registerTempDir(
      java.nio.file.Files.createTempDirectory("graft-emb-chunks-"))
    (0 until chunks).foreach { k =>
      val lo = k * per
      val own = vecs.filter(col("vec_id") >= lo && col("vec_id") < lo + per)
      val withCopies = if (k == 0) own else own.unionByName(
        vecs.filter(col("vec_id") >= lo - per && col("vec_id") < lo &&
            col("vec_id") % 9 === 0)
          .select((col("vec_id") + copyIdOffset).as("vec_id"),
            col("embedding")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-embchunk-")
      withCopies.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = graft.catalog.PathIO.list(tmp)
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet for chunk $k"))
      val target = streamDir.resolve(f"chunk-$k%03d.parquet")
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 60000L))
      deleteRecursively(tmp)
    }
    streamDir.toString
  }

  private def stageDocChunks(spark: SparkSession, dir: String,
      chunks: Int, copyIdOffset: Long): String = {
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val per = math.max(1L, math.ceil(n.toDouble / chunks).toLong)
    val streamDir = registerTempDir(
      java.nio.file.Files.createTempDirectory("graft-docs-chunks-"))
    (0 until chunks).foreach { k =>
      val lo = k * per
      val own = docs.filter(col("doc_id") >= lo && col("doc_id") < lo + per)
      val withCopies = if (k == 0) own else own.unionByName(
        docs.filter(col("doc_id") >= lo - per && col("doc_id") < lo &&
            col("doc_id") % 5 === 0)
          .select((col("doc_id") + copyIdOffset).as("doc_id"),
            concat(col("text"), lit(" graftmarker")).as("text")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-docchunk-")
      withCopies.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = graft.catalog.PathIO.list(tmp)
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet for chunk $k"))
      val target = streamDir.resolve(f"chunk-$k%03d.parquet")
      java.nio.file.Files.move(part, target)
      // FileStreamSource orders by modification time: make it explicit
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 60000L))
      deleteRecursively(tmp)
    }
    streamDir.toString
  }

  /** Event-time windowed aggregation with a watermark — the canonical
    * streaming shape (daily totals per event type). Used by the driver
    * query `s1_stream_agg` and the streaming spec. */
  def dailyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).cast("double").as("sum_value"))
      .select(col("event_type"), col("window.start").cast("date").as("event_day"),
        col("n"), col("sum_value"))
}
