package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that make these queries
  * scale are structural (pushdown reaches the scan, candidate joins are
  * hash joins on bounded keys, never cartesian) — pin them so a future
  * refactor can't silently regress the plan while staying correct. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filters and projections reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), "no filter pushdown in q2 scan")
    assert(!p.contains("PushedFilters: []"), "q2 filters not pushed")
  }

  test("similarity and band joins never degrade to cartesian products") {
    for (q <- Seq("l19_cosine_bucketed", "l7_minhash_lsh", "l11_ann_lsh",
        "q34_range_join_bucketed", "l20_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan contains a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a nested-loop join")
    }
  }

  test("round-3 entries keep scale-shaped plans") {
    // incremental dedup: anti-join, never cartesian; corpus read prunes
    // to the fingerprint column
    val p28 = plan("l28_incremental_dedup")
    assert(!p28.contains("CartesianProduct") &&
      !p28.contains("BroadcastNestedLoopJoin"))
    assert(p28.contains("LeftAnti"), "incremental dedup must anti-join")
    // TF-IDF: two hash aggregates + window, no cartesian
    val p30 = plan("l30_tfidf_topk")
    assert(!p30.contains("CartesianProduct") &&
      !p30.contains("BroadcastNestedLoopJoin"))
    // Q6: the date/quantity predicates reach the parquet scan
    val p39 = plan("q39_tpch6_forecast")
    assert(p39.contains("PushedFilters: [") && !p39.contains("PushedFilters: []"),
      "q39 predicates not pushed to the scan")
    // Q19's OR-bracket join stays a hash join on the part key
    val p41 = plan("q41_tpch19_brackets")
    assert(!p41.contains("CartesianProduct") &&
      !p41.contains("BroadcastNestedLoopJoin"))
  }

  test("round-5 entries keep scale-shaped plans") {
    // BM25 scoring is one map pass + a global top-k: no shuffle Exchange,
    // no join anywhere in the plan (corpus stats are baked literals)
    val p37 = plan("l37_bm25_topk")
    assert(!p37.contains("Join"), "l37 must not join — stats are literals")
    assert(p37.contains("TakeOrderedAndProject"),
      "l37 top-k should be TakeOrderedAndProject, not a global sort")
    assert(!p37.contains("Exchange") || !p37.split("TakeOrdered")(0).contains("Exchange"),
      "l37 scoring pass must be shuffle-free before the top-k")
    // Gopher rules: single map-side pass — no Exchange, no aggregate
    val p40 = plan("l40_gopher_rules")
    assert(!p40.contains("Exchange"), "l40 must be map-only")
    assert(!p40.contains("Join"), "l40 must not join")
    // SemDeDup assignment under fixed centroids: map-only scan
    val centroids = Array.fill(4)(Array.fill(64)(0.5))
    val pAssign = graft.llmops.SemanticDedup
      .assign(Tables.t(spark, sf, "embeddings"), centroids)
      .queryExecution.executedPlan.toString
    assert(!pAssign.contains("Exchange") && !pAssign.contains("Join"),
      "SemDeDup assignment must be a map-only scan")
    // TPC-H q47/q50/q51 subquery shapes stay hash joins, never cartesian
    for (q <- Seq("q47_tpch2_min_cost", "q50_tpch16_supplier_cnt",
        "q51_tpch20_promo_suppliers", "q48_tpch9_profit")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan contains a cartesian product")
    }
  }

  test("round-5b entries keep scale-shaped plans") {
    // merge-on-read scan: delete application is broadcast joins ONLY —
    // the corpus side must not shuffle for the anti-join
    import org.apache.spark.sql.functions.col
    val cat = new graft.catalog.GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-pa-").toString)
    val w = new graft.write.GraftWriter(cat)
    import spark.implicits._
    val mcfg = graft.write.WriteConfig(primaryKey = Seq("id"),
      retryUnitMs = 1, mergeOnRead = true)
    w.writeTable("main", "m", Seq(Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      graft.write.Merge("upsert"), mcfg, "l1")
    val t = w.writeTable("main", "m", Seq(Seq((2L, "b2")).toDF("id", "v")),
      graft.write.Merge("upsert"), mcfg, "l2")
    // past the driver-state gate the read falls back to the join
    // application (a V1 row scan over MorRead.read of the same snapshot)
    val snap = t.metadata.currentSnapshot.get
    val pMor =
      try {
        spark.conf.set(graft.catalog.MorRead.DriverStateMaxRowsKey, "0")
        val fallback = t.read()
        assert(fallback.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b2")))
        assert(fallback.queryExecution.executedPlan.collect {
          case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
        }.nonEmpty, "past the gate the MoR read must plan the V1 join fallback")
        graft.catalog.MorRead.read(spark, t.metadata.schema, snap.dataFiles,
          snap.deletes, snap.posDeletes).queryExecution.executedPlan.toString
      } finally spark.conf.unset(graft.catalog.MorRead.DriverStateMaxRowsKey)
    assert(pMor.contains("BroadcastHashJoin"), "MoR read must broadcast-join")
    assert(!pMor.contains("SortMergeJoin") && !pMor.contains("ShuffledHashJoin"),
      "MoR delete application must never shuffle the corpus")

    // PQ ADC scoring: the code join is a broadcast hash join on (m, code),
    // never cartesian/nested-loop
    val p41 = plan("l41_ann_pq")
    assert(!p41.contains("CartesianProduct") &&
      !p41.contains("BroadcastNestedLoopJoin"),
      "l41 ADC join degraded to cartesian/nested-loop")
    assert(p41.contains("BroadcastHashJoin"), "l41 LUT join must broadcast")

    // DSIR: bucket table broadcasts back onto tokens; the only wide
    // shuffles are the doc_id aggregation + bucket aggregation
    val p42 = plan("l42_dsir_weights")
    assert(p42.contains("BroadcastHashJoin"), "l42 bucket join must broadcast")
    assert(!p42.contains("SortMergeJoin"),
      "l42 token-bucket join must not shuffle the exploded corpus")

    // the composed curation pipeline: every stage joins on a bounded key
    // (fingerprint window, span, gram) — never cartesian/nested-loop
    val p45 = plan("l45_curation_pipeline")
    assert(!p45.contains("CartesianProduct") &&
      !p45.contains("BroadcastNestedLoopJoin"),
      "l45 pipeline degraded to a pair-materializing join")
  }

  test("round-9 entries keep scale-shaped plans") {
    // MoR read, SQL catalog and DataFrame facade alike: the per-row
    // delete reader replaces the delete-application joins entirely — the
    // scan subtree carries NO join operators at all (the r5b
    // broadcast-join shape remains only past the driver-state gate)
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-pa9-").toString
    val cat = new graft.catalog.GraftCatalog(spark, wh)
    val w = new graft.write.GraftWriter(cat)
    val mcfg = graft.write.WriteConfig(primaryKey = Seq("id"),
      retryUnitMs = 1, mergeOnRead = true)
    w.writeTable("main", "m", Seq((1 to 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v")), graft.write.Merge("upsert"), mcfg, "l1")
    w.writeTable("main", "m", Seq(Seq((2L, "b2")).toDF("id", "v")),
      graft.write.Merge("upsert"), mcfg, "l2")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.pa9",
      classOf[graft.catalog.GraftSparkCatalog].getName)
    s.conf.set("spark.sql.catalog.pa9.warehouse", wh)
    val df = s.sql("SELECT id, v FROM pa9.main.m")
    assert(df.collect().length == 100)
    assert(graft.plans.PlanOps.scanDescriptions(df)
      .exists(_.startsWith("graft-mor")), "SQL MoR read must use the wrap")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      s"SQL MoR read must apply deletes per row, not via joins:\n$p")
    val facade = cat.loadTable("main", "m").read()
    assert(facade.collect().length == 100)
    assert(graft.plans.PlanOps.scanDescriptions(facade)
      .exists(_.startsWith("graft-mor")), "facade MoR read must use the wrap")
    val pf = facade.queryExecution.executedPlan.toString
    assert(!pf.contains("Join"),
      s"facade MoR read must apply deletes per row, not via joins:\n$pf")
  }

  test("paragraph dedup: skew-safe winner aggregate, no window, no cartesian") {
    // winner selection must be a hash AGGREGATE (map-side partial combine
    // bounds hot boilerplate paragraphs) joined back on the paragraph
    // key — never a window partitioned by paragraph text, which funnels
    // every copy of a hot key through one task
    val df = graft.llmops.Dedup.paragraphDedup(
      Tables.t(spark, sf, "documents"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"winner selection must not use a hot-key window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"winner aggregate must partial-combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"paragraph dedup join must stay keyed:\n$p")
    val n = graft.plans.PlanOps.shuffles(df)
    assert(n <= 4, s"explode + winner agg + join-back + reassembly, got $n")
  }

  test("window dedup: skew-safe winner aggregate, keyed joins only") {
    // same discipline as paragraph dedup, plus: only multi-occurrence
    // windows (the duplicate tail) may re-join — the plan must carry the
    // occ > 1 filter below the join so unique windows never shuffle twice
    val df = graft.llmops.Dedup.windowDedup(
      Tables.t(spark, sf, "documents"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"winner selection must not use a hot-key window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"winner aggregate must partial-combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"window dedup joins must stay keyed:\n$p")
    assert(p.contains("(occ") || p.contains("occ#"),
      s"duplicate-tail filter (occ > 1) must survive into the plan:\n$p")
  }

  test("round-10 entries keep scale-shaped plans") {
    // Zipf fit: the rank window runs over a TakeOrdered top-k slice,
    // never a global sort of the whole vocabulary
    val p52 = plan("l52_zipf_fit")
    assert(p52.contains("TakeOrderedAndProject"),
      s"zipf top-ranks cut must be a TakeOrdered, got:\n$p52")
    assert(!p52.contains("CartesianProduct"), p52)
    // containment pairs: same candidate discipline as the Jaccard family
    // — keyed shingle join, never cartesian
    val p53 = plan("l53_containment")
    assert(!p53.contains("CartesianProduct") &&
      !p53.contains("BroadcastNestedLoopJoin"),
      s"containment candidates must come from the keyed shingle join:\n$p53")
    // HLL sketches: per-source partial aggregation (ObjectHashAggregate
    // carries the sketch buffers map-side); the only nested-loop join is
    // the 1-row x 1-row global-audit crossJoin
    val p51 = plan("l51_hll_cardinality")
    assert(p51.contains("ObjectHashAggregate"),
      s"sketch aggregation must be an object hash aggregate:\n$p51")
    assert(p51.split("BroadcastNestedLoopJoin").length <= 2,
      s"only the single-row audit crossJoin may nest loops:\n$p51")
  }

  test("round-11 entries keep scale-shaped plans") {
    // domain quota: cutoff selection must be the BOUNDED min-k aggregate
    // (ObjectHashAggregate with map-side partials) + a broadcast join of
    // the one-row-per-domain cutoff table — never a per-domain window,
    // which would sort a hot domain inside one task
    val p55 = plan("l55_domain_quota")
    assert(!p55.contains("Window"),
      s"quota selection must not window-partition by domain:\n$p55")
    assert(p55.contains("ObjectHashAggregate"),
      s"min-k cutoffs must aggregate with bounded buffers:\n$p55")
    assert(p55.contains("BroadcastHashJoin"),
      s"the metadata-sized cutoff table must broadcast back:\n$p55")
    assert(!p55.contains("CartesianProduct") &&
      !p55.contains("BroadcastNestedLoopJoin"), p55)
    // bigram LM: counts and model joins stay keyed hash joins with
    // map-side partial aggregation; no window, no cartesian
    val p56 = plan("l56_bigram_xent")
    assert(!p56.contains("CartesianProduct") &&
      !p56.contains("BroadcastNestedLoopJoin"),
      s"bigram model joins must stay keyed:\n$p56")
    assert(!p56.contains("Window"), p56)
    assert(p56.contains("partial_"),
      s"count/score aggregates must partial-combine map-side:\n$p56")
  }

  test("round-12 entries keep scale-shaped plans") {
    // incremental near-dedup: candidates come from the band-bucket
    // equality join — never cartesian/nested-loop; the best-match
    // selection is a hash aggregate (map-side partials), never a
    // per-incoming-doc window
    import spark.implicits._
    val docs = Tables.t(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val sigs = graft.llmops.Dedup.minHashSignatures(docs)
    val df = graft.llmops.Dedup.incrementalNearDedup(sigs, sigs)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"near-dedup candidates must come from the band join:\n$p")
    assert(!p.contains("Window"),
      s"best-match selection must be an aggregate, not a window:\n$p")

    // auto-capped Jaccard (the r12 default): same no-cartesian guarantee
    // as the explicit-cap plan, plus the df-cap semi-join present
    val p6 = plan("l6_ngram_jaccard")
    assert(!p6.contains("CartesianProduct") &&
      !p6.contains("BroadcastNestedLoopJoin"),
      s"capped-default Jaccard must stay a hash join:\n$p6")

    // URL dedup: canonicalization stays a map-only builtin projection
    // feeding ONE hash aggregate with map-side partials (exactly one
    // exchange, on the canonical key) — no join, no window, no UDF
    val p58 = plan("l58_url_dedup")
    assert(!p58.contains("Join") && !p58.contains("Window") &&
      !p58.contains("BatchEvalPython") && !p58.contains("ScalaUDF"),
      s"url dedup must be projection + hash aggregate only:\n$p58")
    assert(p58.contains("partial_min"),
      s"url dedup must aggregate map-side first:\n$p58")
    assert("Exchange".r.findAllIn(p58).size == 1,
      s"url dedup must shuffle exactly once, on the canonical key:\n$p58")

    // markup strip: pure map-only — no exchange, no join, no UDF; the
    // whole strip chain is builtin regexp_replace expressions
    val p59 = plan("l59_markup_strip")
    assert(!p59.contains("Exchange") && !p59.contains("Join") &&
      !p59.contains("ScalaUDF") && p59.contains("FileScan parquet"),
      s"markup strip must be a shuffle-free scan+project:\n$p59")

    // BPE tokenizer application: the merge-list tokenizer is the
    // codegen'd graft_bpe expression (never a ScalaUDF), applied to the
    // DEDUPED distinct-word side; the count lookup joins back as a hash
    // join (tiny side broadcastable, never cartesian/nested-loop), and
    // the per-doc rollup is a hash aggregate with map-side partials,
    // never a window
    val merges = graft.llmops.Bpe.trainMerges(docs, numMerges = 4)
    val qe62 = graft.llmops.Bpe.docTokenCounts(docs, merges).queryExecution
    val p62 = qe62.executedPlan.toString
    assert(!p62.contains("ScalaUDF") && !p62.contains("BatchEvalPython"),
      s"bpe apply must use the native expression, not a UDF:\n$p62")
    assert(!p62.contains("CartesianProduct") &&
      !p62.contains("BroadcastNestedLoopJoin"),
      s"bpe count lookup must stay a keyed hash join:\n$p62")
    assert(!p62.contains("Window"),
      s"per-doc rollup must be an aggregate, not a window:\n$p62")
    // the tokenizer expression folds into the distinct aggregate's result
    // expressions, which the physical string omits — pin it logically
    val lp62 = qe62.optimizedPlan.toString
    assert(lp62.contains("graft_bpe"),
      s"bpe apply must go through the graft_bpe expression:\n$lp62")
    assert(p62.contains("partial_count") || p62.contains("partial_sum"),
      s"per-doc rollup must aggregate map-side first:\n$p62")
  }

  test("the deliberate exceptions stay deliberate") {
    // l9 brute-force top-k broadcasts the query side by design (oracle
    // baseline); the corpus side still never self-joins
    val p = plan("l9_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
  }
}
