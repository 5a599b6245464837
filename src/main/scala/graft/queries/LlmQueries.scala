package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.llmops.{Bpe, Dedup, Multimodal, SemanticDedup, Similarity, TextOps}

/** ★ North-star LLM-data-pipeline operators (SURVEY §2.11) as
  * driver-checkable queries over `documents` / `embeddings`.
  *
  * EVERY entry carries a full hash-match oracle. Operators whose core
  * step has no portable SQL form (custom hashing, k-means codebooks)
  * use the staged-intermediate pattern: Spark stages the non-portable
  * set, the DuckDB oracle re-derives the exact downstream computation
  * over it; the staged step's own semantics are pinned by LlmOpsSpec /
  * PqSpec (e.g. LSH recall vs the brute-force baseline).
  *
  * Embedding oracles cast to DOUBLE[] on the DuckDB side so both engines
  * do the same double-precision sequential fold — results hash-match
  * exactly.
  */
object LlmQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** Fixed staging root for oracle-side intermediates (the DuckDB oracle
    * reads the path literally from the entry's SQL): a Spark-computed
    * set not derivable in portable SQL — ANN candidate pairs — lands
    * here and the oracle verifies the downstream computation over it. */
  private val OracleStageRoot =
    sys.props.get("graft.oracle.stage.dir")
      .orElse(sys.env.get("GRAFT_ORACLE_STAGE"))
      .getOrElse("/tmp/graft-oracle-stage")

  private def stageForOracle(df: DataFrame, name: String): Unit =
    // repartition(1), NOT coalesce(1): coalesce folds the WHOLE upstream
    // plan into one task (at sf10 the l57 signature aggregation ran
    // single-threaded for 10+ minutes); repartition keeps the compute
    // parallel and only the final write funnels into one file
    df.repartition(1).write.mode("overwrite")
      .parquet(s"$OracleStageRoot/$name")

  /** Merge-table size for l61/l62: big enough that merged symbols feed
    * later merges (multi-level vocab), small enough that the oracle's
    * chained-CTE replay stays sub-second. MUST be defined before
    * `entries` — the map's oracle strings evaluate at object init and
    * would read a forward reference as 0. */
  private val BpeMerges = 16

  /** Exact top-3 cosine over the staged candidate pairs — l9's oracle
    * restricted to the candidate sets, so staging and scoring must agree
    * bit-for-bit for the hash to match. */
  private def annCandidateOracle(name: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cand AS (SELECT DISTINCT query_id, nbr_id
       |  FROM read_parquet('$OracleStageRoot/$name/*.parquet')),
       |s AS (SELECT cand.query_id, cand.nbr_id,
       |    list_cosine_similarity(ev.v, qv.v) AS c
       |  FROM cand
       |  JOIN e ev ON ev.vec_id = cand.nbr_id
       |  JOIN e qv ON qv.vec_id = cand.query_id),
       |r AS (SELECT query_id, nbr_id, c,
       |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nbr_id) AS rnk
       |  FROM s)
       |SELECT query_id, nbr_id, round(c, 4) AS cosine, rnk AS rank
       |FROM r WHERE rnk <= 3""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(

    // --- text analysis ---
    "l1_token_stats" -> ((
      (s: SparkSession, dir: String) =>
        TextOps.tokenStats(docs(s, dir))
          .select(col("doc_id"), col("n_tokens").cast("long"),
            col("n_distinct_tokens").cast("long"),
            col("n_bpeish_tokens").cast("long"),
            col("n_chars").cast("long"), col("mean_token_len")),
      Some("""SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpeish_tokens,
        |  length(text) AS n_chars,
        |  round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' '))
        |    + 1e-9, 4) AS mean_token_len
        |FROM documents""".stripMargin))),

    "l2_quality_score" -> ((
      (s: SparkSession, dir: String) => TextOps.qualityScore(docs(s, dir)),
      Some("""WITH q AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) * 1.0 AS n_tok,
        |    len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','in','to','is','it','for','on')))
        |      / (len(string_split(text, ' ')) * 1.0) AS sr,
        |    len(list_distinct(string_split(text, ' ')))
        |      / (len(string_split(text, ' ')) * 1.0) AS dv
        |  FROM documents)
        |SELECT doc_id, round(sr + 1e-9, 4) AS stop_ratio,
        |  round(dv + 1e-9, 4) AS diversity,
        |  round(least(1.0, n_tok / 200.0) * 0.4 + least(1.0, sr * 5.0) * 0.3
        |    + dv * 0.3 + 1e-9, 4) AS quality
        |FROM q""".stripMargin))),

    // language ID heuristic: the marker-ratio argmax is the same
    // row_number-over-(score DESC, lang DESC) selection in DuckDB
    "l3_lang_id" -> ((
      (s: SparkSession, dir: String) => TextOps.langId(docs(s, dir)),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id, 'de' AS lang, len(list_filter(w,
        |    x -> x IN ('der','und','die','ist','das'))) * 1.0 / len(w) AS score FROM d
        |  UNION ALL SELECT doc_id, 'en', len(list_filter(w,
        |    x -> x IN ('the','and','of','is','to'))) * 1.0 / len(w) FROM d
        |  UNION ALL SELECT doc_id, 'es', len(list_filter(w,
        |    x -> x IN ('el','la','que','los','es'))) * 1.0 / len(w) FROM d
        |  UNION ALL SELECT doc_id, 'fr', len(list_filter(w,
        |    x -> x IN ('le','et','les','des','est'))) * 1.0 / len(w) FROM d
        |  UNION ALL SELECT doc_id, 'zh', len(list_filter(w,
        |    x -> x IN ('de5','shi4','le5','zai4','you3'))) * 1.0 / len(w) FROM d),
        |r AS (SELECT doc_id, lang, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM s)
        |SELECT doc_id, lang AS lang_pred, round(score + 1e-9, 4) AS lang_score
        |FROM r WHERE rn = 1""".stripMargin))),

    // multimodal frame sampling: stubbed demux/decode are deterministic
    // arithmetic over the blob, so DuckDB can replay the whole pipeline
    // (frame count, uniform indices, per-frame digests) relationally
    // REAL video frame sampling (r12, upgraded from the demux stub):
    // each doc becomes a genuine MJPEG-in-AVI container (real JPEGs, JDK
    // ImageIO), the engine RIFF-walks the container, samples k=4 uniform
    // frame indices, and JPEG-decodes only the sampled frames. The
    // oracle recomputes frame count and per-frame dimensions from pure
    // integer formulas of (doc_id, frame_idx) — a hash match proves the
    // whole encode -> demux -> decode chain parsed every container and
    // codec structure correctly.
    "l23_frame_sample" -> ((
      (s: SparkSession, dir: String) =>
        Multimodal.sampleVideoFrames(
          Multimodal.asAviBlobs(docs(s, dir)), k = 4).toDF(),
      Some("""WITH b AS (SELECT doc_id, 6 + (doc_id % 7) AS nf FROM documents),
        |f AS (SELECT doc_id, nf, unnest([0, 1, 2, 3]) AS i FROM b),
        |g AS (SELECT doc_id, nf, CAST((i * (nf - 1)) // 3 AS INT) AS fi FROM f)
        |SELECT doc_id, fi AS frame_idx, CAST(nf AS INT) AS n_frames,
        |  CAST(16 + 8 * ((doc_id + fi) % 6) AS INT) AS width,
        |  CAST(16 + 8 * ((3 * doc_id + fi) % 5) AS INT) AS height
        |FROM g""".stripMargin))),

    // corpus-statistics quality proxy: per-doc mean unigram log-prob
    "l27_unigram_logprob" -> ((
      (s: SparkSession, dir: String) => TextOps.unigramLogProb(docs(s, dir)),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tot AS (SELECT count(*) * 1.0 AS n FROM tok),
        |f AS (SELECT t, count(*) / (SELECT n FROM tot) AS p FROM tok GROUP BY t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(f.p)) + 1e-9, 4) AS mean_logprob
        |FROM tok JOIN f USING (t) GROUP BY doc_id""".stripMargin))),

    // sequence packing: shard-parallel fixed-token-budget pack assignment
    "l25_pack_sequences" -> ((
      (s: SparkSession, dir: String) =>
        TextOps.packSequences(docs(s, dir), tokenBudget = 2048, shards = 32),
      Some("""WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(doc_id % 32 AS INT) AS shard FROM documents),
        |c AS (SELECT doc_id, n_tokens, shard,
        |  SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, n_tokens, shard,
        |  CAST(shard * 1000000 + FLOOR((cum - n_tokens) / 2048) AS BIGINT)
        |    AS pack_id
        |FROM c""".stripMargin))),

    // Gopher-style repetition signal: duplicated 3-gram ratio per doc
    "l22_repetition" -> ((
      (s: SparkSession, dir: String) => TextOps.repetitionStats(docs(s, dir)),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, list_transform(range(1, len(w) - 1),
        |  i -> w[i] || '_' || w[i+1] || '_' || w[i+2]) AS g FROM d)
        |SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
        |  round((len(g) - len(list_distinct(g))) * 1.0 / len(g) + 1e-9, 4)
        |    AS dup_ratio
        |FROM s""".stripMargin))),

    // deterministic leakage-safe corpus splitting: same md5-prefix bucket
    // arithmetic on both engines (conv(_,16,10) vs ('0x'||_)::BIGINT)
    "l21_train_split" -> ((
      (s: SparkSession, dir: String) => TextOps.splitAssign(docs(s, dir)),
      Some("""WITH b AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 100 AS INT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, split_bucket,
        |  CASE WHEN split_bucket < 80 THEN 'train'
        |       WHEN split_bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin))),

    "l4_fingerprint" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir).select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin))),

    // --- dedup ---
    // exact dedup over a corpus with planted duplicates (documents twice,
    // second copy re-keyed) — survivor is min doc_id per fingerprint
    "l5_exact_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val planted = d.union(d.select(col("doc_id") + 1000000L, col("text")))
        Dedup.exactDedup(planted).select(col("doc_id"), col("fp"),
          col("n_copies"))
      },
      Some("""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(doc_id) AS doc_id,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |  count(*) AS n_copies
        |FROM all_docs GROUP BY 2""".stripMargin))),

    // DEFAULT plan since r12: the auto-derived df cap (integer-exact
    // p99.9 of shingle document frequency, floored at 10) is applied
    // before the self-join — the uncapped relation is the `exact = true`
    // opt-in (measured infeasible at sf10: 32 GB shuffle spill kill).
    // The oracle re-derives the SAME cap in SQL (1000*cum >= 999*total,
    // no float interpolation), proving the derivation matches.
    "l6_ngram_jaccard" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.5),
      Some(jaccardAutoCappedOracle))),

    // MinHash+LSH verified with exact Jaccard — same relation as l6 for
    // high-similarity pairs (recall ≈ 1 - 2.6e-23 at J≥0.9 with 32×2
    // bands), so it shares the exact oracle
    "l7_minhash_lsh" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.minHashLshPairs(docs(s, dir), n = 3, numHashes = 64,
          bands = 32, threshold = 0.5),
      Some(jaccardOracle))),

    // the corpus-scale exact-Jaccard variant: stop-shingles with document
    // frequency > 10 are dropped BEFORE the equality self-join, bounding
    // per-shingle join fan-out at cap² — the knob that keeps the shingle
    // join linear-ish under power-law shingle frequencies. The oracle
    // applies the identical cap (HAVING count(*) <= 10 on the shingle CTE).
    "l18_jaccard_capped" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.5,
          maxShingleFreq = Some(10)),
      Some(jaccardCappedOracle))),

    // incremental dedup: the first half of the corpus is COMMITTED through
    // the real table/commit path (fingerprints in a graft table), then an
    // incoming batch — second half + re-keyed copies of every 7th corpus
    // doc — is deduped against the committed fingerprints with one
    // anti-join. The planted copies must all drop; survivors dedup among
    // themselves with the min-id survivor rule.
    "l28_incremental_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val half = d.count() / 2
        val corpus = d.filter(col("doc_id") < half)
        val incoming = d.filter(col("doc_id") >= half)
          .union(corpus.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        val cat = new graft.catalog.GraftCatalog(s,
          java.nio.file.Files.createTempDirectory("graft-incdd-").toString)
        val w = new graft.write.GraftWriter(cat)
        w.writeTable("main", "corpus_fp", Seq(
          corpus.select(col("doc_id"),
            TextOps.fingerprint(col("text")).as("fp"))),
          graft.write.Append, graft.write.WriteConfig(retryUnitMs = 10), "seed")
        val committed = cat.loadTable("main", "corpus_fp").read()
        Dedup.incrementalDedup(incoming, committed)
      },
      Some("""WITH h AS (SELECT COUNT(*) // 2 AS half FROM documents),
        |c AS (SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents, h WHERE doc_id < half),
        |i AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents, h WHERE doc_id >= half
        |  UNION ALL
        |  SELECT doc_id + 2000000, md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
        |  FROM documents, h WHERE doc_id < half AND doc_id % 7 = 0)
        |SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
        |FROM i WHERE fp NOT IN (SELECT fp FROM c)
        |GROUP BY fp""".stripMargin))),

    // deterministic per-language downsampling (hash-bucket membership is
    // a pure function of the key — leakage-safe like l21)
    "l29_stratified_sample" -> ((
      (s: SparkSession, dir: String) => TextOps.stratifiedSample(docs(s, dir)),
      Some("""WITH b AS (SELECT doc_id, lang,
        |  CAST(('0x' || substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 100 AS INT) AS sample_bucket
        |  FROM documents)
        |SELECT doc_id, lang, sample_bucket FROM b
        |WHERE sample_bucket < CASE WHEN lang = 'en' THEN 10
        |                           WHEN lang = 'de' THEN 30
        |                           ELSE 50 END""".stripMargin))),

    // per-document top-5 TF-IDF terms (explode → two hash aggs → window)
    "l30_tfidf_topk" -> ((
      (s: SparkSession, dir: String) => TextOps.tfIdfTopK(docs(s, dir), k = 5),
      Some("""WITH n AS (SELECT COUNT(*) * 1.0 AS n_docs FROM documents),
        |terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  tf.tf * ln(n.n_docs / df.df) AS score,
        |  row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf * ln(n.n_docs / df.df) DESC, tf.term) AS rank
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, tf, df, round(score + 1e-9, 4) AS tfidf, rank
        |FROM r WHERE rank <= 5""".stripMargin))),

    // PII redaction: deterministic email markers injected into every 3rd
    // doc, pattern counted and replaced, redacted text fingerprinted
    "l31_pii_redact" -> ((
      (s: SparkSession, dir: String) => {
        val injected = docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" contact_"), col("doc_id"),
              lit("@example.com")))
            .otherwise(col("text")).as("text"))
        TextOps.redactPii(injected)
      },
      Some("""WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN text || ' contact_' || CAST(doc_id AS VARCHAR) || '@example.com'
        |       ELSE text END AS t FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9_]+@[a-z0-9.]+')) AS BIGINT)
        |    AS n_redacted,
        |  md5(regexp_replace(t, '[a-z0-9_]+@[a-z0-9.]+', '<email>', 'g'))
        |    AS redacted_fp
        |FROM d""".stripMargin))),

    // int8 scalar quantization of the embedding column with
    // reconstruction-error stats (the 4x ANN memory lever); floor-based
    // codes keep the arithmetic bit-portable for the oracle
    "l32_embedding_quantize" -> ((
      (s: SparkSession, dir: String) => Similarity.quantizeInt8(emb(s, dir)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e)
        |SELECT vec_id,
        |  round(mn + 1e-9, 4) AS qmin,
        |  round(mx + 1e-9, 4) AS qmax,
        |  CAST(list_sum(list_transform(v,
        |    x -> CASE WHEN mx = mn THEN 0
        |         ELSE floor((x - mn) * 255 / (mx - mn)) END)) AS BIGINT)
        |    AS q_checksum,
        |  round(list_sum(list_transform(v,
        |    x -> CASE WHEN mx = mn THEN 0
        |         ELSE abs(x - (mn + floor((x - mn) * 255 / (mx - mn)) * (mx - mn) / 255)) END))
        |    / 64 + 1e-9, 6) AS mean_abs_err
        |FROM m""".stripMargin))),

    // span-level boilerplate removal (CCNet-style): 8-word spans with
    // corpus df > 1 are dropped from every doc; audit row per doc
    "l35_span_dedup" -> ((
      (s: SparkSession, dir: String) => Dedup.spanDedup(docs(s, dir)),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sp AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS span
        |  FROM (SELECT doc_id, ws,
        |    unnest(range(CAST(ceil(len(ws)/8.0) AS BIGINT))) AS i FROM w)),
        |f AS (SELECT span, count(*) AS c FROM sp GROUP BY span),
        |k AS (SELECT sp.doc_id, sp.pos, sp.span
        |  FROM sp JOIN f USING (span) WHERE f.c <= 1),
        |a AS (SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(span, ' ' ORDER BY pos)) AS clean_fp
        |  FROM k GROUP BY doc_id)
        |SELECT w.doc_id, CAST(ceil(len(ws)/8.0) AS BIGINT) AS n_spans,
        |  COALESCE(a.n_kept, 0) AS n_kept,
        |  COALESCE(a.clean_fp, md5('')) AS clean_fp
        |FROM w LEFT JOIN a USING (doc_id)""".stripMargin))),

    // per-doc n-gram novelty: fraction of distinct 5-grams unique to the
    // doc across the corpus (freshness vs boilerplate signal)
    "l36_ngram_novelty" -> ((
      (s: SparkSession, dir: String) => TextOps.ngramNovelty(docs(s, dir)),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |i AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS s FROM w),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[s:s+4], ' ') AS gm FROM i),
        |f AS (SELECT gm, count(*) AS gdf FROM g GROUP BY gm),
        |a AS (SELECT doc_id, count(*) AS n_grams,
        |    round(avg(CASE WHEN gdf = 1 THEN 1.0 ELSE 0.0 END) + 1e-9, 4)
        |      AS novel_frac
        |  FROM g JOIN f USING (gm) GROUP BY doc_id)
        |SELECT w.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
        |  COALESCE(a.novel_frac, 0.0) AS novel_frac
        |FROM w LEFT JOIN a USING (doc_id)""".stripMargin))),

    // BM25 keyword search top-k: corpus stats (N, avgdl, per-term df)
    // reduce to driver literals in one pass, scoring is map-only — the
    // oracle recomputes the identical Robertson idf / tf saturation math
    "l37_bm25_topk" -> ((
      (s: SparkSession, dir: String) =>
        TextOps.bm25TopK(docs(s, dir), Seq("spark", "merge", "window"), k = 15),
      Some("""WITH stats AS (
        |  SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl
        |  FROM documents),
        |dfs AS (
        |  SELECT
        |    SUM(CASE WHEN list_contains(string_split(text, ' '), 'spark')
        |        THEN 1 ELSE 0 END) AS df_spark,
        |    SUM(CASE WHEN list_contains(string_split(text, ' '), 'merge')
        |        THEN 1 ELSE 0 END) AS df_merge,
        |    SUM(CASE WHEN list_contains(string_split(text, ' '), 'window')
        |        THEN 1 ELSE 0 END) AS df_window
        |  FROM documents),
        |scored AS (
        |  SELECT d.doc_id,
        |    round(
        |      ln((stats.n - dfs.df_spark + 0.5) / (dfs.df_spark + 0.5) + 1.0)
        |        * tf_spark * 2.2
        |        / (tf_spark + 1.2 * (0.25 + 0.75 * dl / stats.avgdl))
        |      + ln((stats.n - dfs.df_merge + 0.5) / (dfs.df_merge + 0.5) + 1.0)
        |        * tf_merge * 2.2
        |        / (tf_merge + 1.2 * (0.25 + 0.75 * dl / stats.avgdl))
        |      + ln((stats.n - dfs.df_window + 0.5) / (dfs.df_window + 0.5) + 1.0)
        |        * tf_window * 2.2
        |        / (tf_window + 1.2 * (0.25 + 0.75 * dl / stats.avgdl))
        |      + 1e-9, 4) AS bm25
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
        |          CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
        |            AS DOUBLE) AS tf_spark,
        |          CAST(len(list_filter(string_split(text, ' '), x -> x = 'merge'))
        |            AS DOUBLE) AS tf_merge,
        |          CAST(len(list_filter(string_split(text, ' '), x -> x = 'window'))
        |            AS DOUBLE) AS tf_window
        |        FROM documents) d, stats, dfs)
        |SELECT doc_id, bm25 FROM scored WHERE bm25 > 0.0
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin))),

    // Gopher quality-rule battery: per-rule booleans + combined verdict,
    // one map-only codegen pass; the oracle recomputes every rule with
    // the same IEEE divisions (no rounded floats cross the hash compare)
    // PQ-ANN (product quantization, Jégou et al. 2011): corpus stored as
    // m=8 4-bit codes per vector (32x memory cut — the index that fits
    // cluster RAM at 100 TB); queries score via a broadcast ADC
    // lookup-table join. Deterministic codebooks, but driver-side k-means
    // isn't portable SQL; recall vs l9 brute force and bit-replay
    // determinism are pinned in PqSpec.
    // PQ ADC, staged-shortlist oracle: k-means codebooks have no SQL
    // form, but the FINAL answer is an exact-cosine top-k over the ADC
    // shortlist — stage the shortlist pairs, DuckDB re-derives the top-k
    // over the same candidates. Recall/memory bounds stay in PqSpec.
    "l41_ann_pq" -> ((
      (s: SparkSession, dir: String) => {
        // persist: codebook training (seeds + 4 Lloyd iterations), the
        // encode pass, and the exact rerank each re-scan the embeddings
        val e = emb(s, dir).persist()
        val q = e.filter(col("vec_id") < 10)
        stageForOracle(graft.llmops.Pq.adcTopK(e, q, k = 3,
          emitShortlist = true), "l41_candidates")
        // derive the final top-k from the STAGED shortlist — codebooks
        // train once, and result/oracle provably share one candidate set
        graft.llmops.Pq.rerankExact(e, q,
          s.read.parquet(s"$OracleStageRoot/l41_candidates"), k = 3)
      },
      Some(annCandidateOracle("l41_candidates")))),

    // IVF-PQ composite (the FAISS production shape): coarse lists bound
    // per-query candidates to ~nprobe/nlist of the corpus, PQ codes bound
    // index memory to m bytes/vector, exact re-ranking bounds the
    // full-precision reads to the shortlist. Staged-shortlist oracle,
    // same pattern as l41; recall pinned in PqSpec.
    "l43_ann_ivfpq" -> ((
      (s: SparkSession, dir: String) => {
        // persist: coarse centroids + codebooks + encode + rerank re-scans
        val e = emb(s, dir).persist()
        val q = e.filter(col("vec_id") < 10)
        stageForOracle(graft.llmops.Pq.ivfPqTopK(e, q, k = 3,
          emitShortlist = true), "l43_candidates")
        // final top-k from the staged shortlist (see l41)
        graft.llmops.Pq.rerankExact(e, q,
          s.read.parquet(s"$OracleStageRoot/l43_candidates"), k = 3)
      },
      Some(annCandidateOracle("l43_candidates")))),

    // DSIR importance weighting (Xie et al. 2023): per-doc mean
    // log-likelihood ratio of md5-bucket hashed unigrams, target = the
    // English slice vs the raw corpus; keep = weight > 0. Fully
    // SQL-portable (md5 prefixes hash identically in both engines).
    "l42_dsir_weights" -> ((
      (s: SparkSession, dir: String) => TextOps.dsirWeights(docs(s, dir)),
      Some("""WITH b AS (SELECT doc_id, lang, substr(md5(t), 1, 3) AS bk
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |        FROM documents)),
        |tot AS (SELECT count(*) * 1.0 AS nr,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0 AS nt FROM b),
        |lr AS (SELECT bk,
        |    ln(((ct + 1) / ((SELECT nt FROM tot) + 4096)) /
        |       ((cr + 1) / ((SELECT nr FROM tot) + 4096))) AS lr
        |  FROM (SELECT bk, count(*) * 1.0 AS cr,
        |      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0 AS ct
        |    FROM b GROUP BY bk))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(lr) + 1e-9, 4) AS dsir_weight,
        |  round(avg(lr) + 1e-9, 4) > 0 AS keep
        |FROM b JOIN lr USING (bk) GROUP BY doc_id""".stripMargin))),

    // cross-source overlap matrix: shared distinct 8-token spans per
    // source pair — the "these two crawls overlap, dedup before mixing"
    // curation signal; output is |sources|² metadata-sized
    "l44_source_overlap" -> ((
      (s: SparkSession, dir: String) => Dedup.sourceOverlap(docs(s, dir)),
      Some("""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
        |sp AS (SELECT DISTINCT source,
        |    array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS span
        |  FROM (SELECT source, ws,
        |    unnest(range(CAST(ceil(len(ws)/8.0) AS BIGINT))) AS i FROM w))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared_spans
        |FROM sp a JOIN sp b ON a.span = b.span AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin))),

    // the composed curation pipeline: language filter -> quality gate ->
    // exact dedup -> span-novelty near-dedup -> benchmark
    // decontamination -> leakage-safe split, each stage one of the
    // individual operators — proof the primitives CHAIN, with the whole
    // pipeline hash-checked against a single staged SQL oracle
    "l45_curation_pipeline" -> ((
      (s: SparkSession, dir: String) => graft.llmops.Curation.curate(docs(s, dir)),
      Some("""WITH gated AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS n_words
        |  FROM documents
        |  WHERE lang = 'en' AND len(string_split(text, ' ')) >= 30
        |    AND len(list_filter(string_split(text, ' '),
        |          w -> regexp_matches(w, '[a-z]'))) * 1.0
        |        / len(string_split(text, ' ')) >= 0.8),
        |surv AS (SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS min_id
        |    FROM gated) WHERE doc_id = min_id),
        |sp AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS span
        |  FROM (SELECT doc_id, ws,
        |    unnest(range(CAST(ceil(len(ws)/8.0) AS BIGINT))) AS i FROM surv)),
        |sdf AS (SELECT span, count(DISTINCT doc_id) AS span_docs
        |  FROM sp GROUP BY span),
        |novel AS (SELECT s.doc_id FROM sp s JOIN sdf USING (span)
        |  GROUP BY s.doc_id
        |  HAVING sum(CASE WHEN span_docs > 1 THEN 1 ELSE 0 END) * 1.0
        |    / count(*) <= 0.5),
        |bg AS (SELECT DISTINCT array_to_string(ws[(i+1):(i+5)], ' ') AS g
        |  FROM (SELECT string_split(text, ' ') AS ws,
        |      unnest(range(len(string_split(text, ' ')) - 4)) AS i
        |    FROM documents WHERE doc_id % 97 = 0)),
        |ng AS (SELECT DISTINCT s.doc_id, array_to_string(s.ws[(i+1):(i+5)], ' ') AS g
        |  FROM (SELECT surv.doc_id, surv.ws FROM surv
        |        JOIN novel USING (doc_id)) s,
        |    unnest(range(len(s.ws) - 4)) AS t(i)),
        |dirty AS (SELECT DISTINCT doc_id FROM ng JOIN bg USING (g)),
        |clean AS (SELECT surv.doc_id, surv.n_words FROM surv
        |  JOIN novel USING (doc_id)
        |  WHERE surv.doc_id NOT IN (SELECT doc_id FROM dirty))
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM clean""".stripMargin))),

    "l40_gopher_rules" -> ((
      (s: SparkSession, dir: String) => TextOps.gopherRules(docs(s, dir)),
      Some("""WITH d AS (SELECT doc_id, text,
        |    string_split(text, ' ') AS ws,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    len(ws) AS n_words,
        |    length(replace(text, ' ', '')) * 1.0 / len(ws) AS mwl,
        |    len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 / len(ws) AS symr,
        |    len(list_filter(ls, l -> regexp_matches(l, '^[-*•]'))) * 1.0
        |      / len(ls) AS bulletf,
        |    len(list_filter(ls, l -> regexp_matches(l, '\.\.\.$'))) * 1.0
        |      / len(ls) AS ellipsisf,
        |    len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) * 1.0
        |      / len(ws) AS alphaf,
        |    len(list_distinct(list_intersect(ws,
        |      ['the','a','of','and','in','to','is','it','for','on']))) AS nstop
        |  FROM d)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
        |  mwl >= 3.0 AND mwl <= 10.0 AS r_mean_word_len,
        |  symr <= 0.1 AS r_symbol_ratio,
        |  bulletf <= 0.9 AS r_bullet_lines,
        |  ellipsisf <= 0.3 AS r_ellipsis_lines,
        |  alphaf >= 0.8 AS r_alpha_words,
        |  nstop >= 2 AS r_stopwords,
        |  (n_words >= 50 AND n_words <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
        |    AND symr <= 0.1 AND bulletf <= 0.9 AND ellipsisf <= 0.3
        |    AND alphaf >= 0.8 AND nstop >= 2 AS pass
        |FROM m""".stripMargin))),

    // hybrid retrieval: BM25 lexical ranks fused with embedding-cosine
    // ranks by reciprocal-rank fusion (docs and embeddings share ids in
    // the test corpus) — the fused lists are top-k-truncated, so fusion
    // is list-sized work on top of the two retrievers
    "l38_hybrid_rrf" -> ((
      (s: SparkSession, dir: String) => {
        val bm = TextOps.bm25TopK(docs(s, dir),
            Seq("spark", "merge", "window"), k = 50)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("bm25").desc, col("doc_id"))))
          .select(col("doc_id"), col("rank"))
        val e = emb(s, dir)
        val cos = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 50)
          .select(col("nbr_id").as("doc_id"), col("rank"))
        Similarity.rrf(Seq(bm, cos), k = 15)
      },
      Some("""WITH stats AS (
        |  SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl
        |  FROM documents),
        |dfs AS (
        |  SELECT
        |    SUM(CASE WHEN list_contains(string_split(text, ' '), 'spark')
        |        THEN 1 ELSE 0 END) AS df_spark,
        |    SUM(CASE WHEN list_contains(string_split(text, ' '), 'merge')
        |        THEN 1 ELSE 0 END) AS df_merge,
        |    SUM(CASE WHEN list_contains(string_split(text, ' '), 'window')
        |        THEN 1 ELSE 0 END) AS df_window
        |  FROM documents),
        |scored AS (
        |  SELECT d.doc_id,
        |    round(
        |      ln((stats.n - dfs.df_spark + 0.5) / (dfs.df_spark + 0.5) + 1.0)
        |        * tf_spark * 2.2
        |        / (tf_spark + 1.2 * (0.25 + 0.75 * dl / stats.avgdl))
        |      + ln((stats.n - dfs.df_merge + 0.5) / (dfs.df_merge + 0.5) + 1.0)
        |        * tf_merge * 2.2
        |        / (tf_merge + 1.2 * (0.25 + 0.75 * dl / stats.avgdl))
        |      + ln((stats.n - dfs.df_window + 0.5) / (dfs.df_window + 0.5) + 1.0)
        |        * tf_window * 2.2
        |        / (tf_window + 1.2 * (0.25 + 0.75 * dl / stats.avgdl))
        |      + 1e-9, 4) AS bm25
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
        |          CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
        |            AS DOUBLE) AS tf_spark,
        |          CAST(len(list_filter(string_split(text, ' '), x -> x = 'merge'))
        |            AS DOUBLE) AS tf_merge,
        |          CAST(len(list_filter(string_split(text, ' '), x -> x = 'window'))
        |            AS DOUBLE) AS tf_window
        |        FROM documents) d, stats, dfs),
        |bm AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
        |  FROM (SELECT doc_id, bm25 FROM scored WHERE bm25 > 0.0
        |        ORDER BY bm25 DESC, doc_id LIMIT 50)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |cs AS (SELECT nbr_id AS doc_id, rnk FROM (
        |    SELECT e.vec_id AS nbr_id,
        |      row_number() OVER (
        |        ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id) AS rnk
        |    FROM e, q WHERE e.vec_id <> 0) x WHERE rnk <= 50),
        |u AS (SELECT doc_id, rnk FROM bm UNION ALL SELECT doc_id, rnk FROM cs)
        |SELECT doc_id,
        |  round(SUM(1.0 / (60.0 + rnk)) + 1e-9, 6) AS rrf_score,
        |  COUNT(*) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin))),

    // RAG/pretraining chunking: overlapping 64-token windows, stride 48,
    // content-fingerprinted — chunk identity survives re-chunking
    "l33_doc_chunks" -> ((
      (s: SparkSession, dir: String) =>
        TextOps.chunkDocuments(docs(s, dir), chunkTokens = 64, overlap = 16),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  len(string_split(text, ' ')) AS n FROM documents),
        |s AS (SELECT doc_id, w, n,
        |  unnest(range(1, greatest(1, n - 16) + 1, 48)) AS start FROM d)
        |SELECT doc_id,
        |  CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(w, start, least(start + 63, n))) AS BIGINT)
        |    AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(w, start, least(start + 63, n)), ' '))
        |    AS chunk_fp
        |FROM s""".stripMargin))),

    // pretraining mixture planning: per-source token mass -> weighted
    // keep rates against a token budget (the recipe-planning aggregate)
    "l34_mixture_plan" -> ((
      (s: SparkSession, dir: String) =>
        TextOps.mixturePlan(docs(s, dir), budgetTokens = 20000,
          boostedSources = Seq("src0", "src1", "src2")),
      Some("""WITH t AS (SELECT source,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |ww AS (SELECT source, toks,
        |  CASE WHEN source IN ('src0','src1','src2') THEN 2.0 ELSE 1.0 END AS weight
        |  FROM t)
        |SELECT source, toks,
        |  round(weight / SUM(weight) OVER () + 1e-9, 4) AS w_share,
        |  round(least(1.0, 20000.0 * (weight / SUM(weight) OVER ()) / toks)
        |    + 1e-9, 4) AS keep_rate
        |FROM ww""".stripMargin))),

    // near-dup pair graph → dedup clusters: min-label propagation on the
    // Spark side, transitive-closure recursive CTE as the DuckDB oracle
    // (pairs come from MinHash-LSH, which matches the exact relation here)
    "l24_dedup_clusters" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.nearDupClusters(
          Dedup.minHashLshPairs(docs(s, dir), n = 3, numHashes = 64,
            bands = 32, threshold = 0.5)),
      Some("""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM d),
        |sh AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS g
        |  FROM s),
        |pairs0 AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |jp AS (SELECT p.a, p.b FROM pairs0 p
        |  JOIN sizes sa ON p.a = sa.doc_id JOIN sizes sb ON p.b = sb.doc_id
        |  WHERE shared * 1.0 / (sa.sz + sb.sz - shared) > 0.5),
        |e AS (SELECT a, b FROM jp UNION SELECT b AS a, a AS b FROM jp),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (SELECT id, id AS label FROM nodes
        |  UNION SELECT e.a AS id, r.label FROM e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id""".stripMargin))),

    // sf10 capped-oracle twins of l7/l24: the full-corpus oracles above
    // are the UNCAPPED relational formulations (exact shingle self-join /
    // recursive-CTE closure), which exhaust DuckDB's temp space at 500k
    // docs — the r9 capacity bound. These run the IDENTICAL engine plans
    // (banded MinHash-LSH; distributed clustering) over a deterministic
    // 1-in-8 stratum keyed on md5 of each document's 16-char PREFIX —
    // near-dup pairs are tail-perturbed copies sharing their prefix, so
    // the predicate keeps or drops both ends of a pair TOGETHER (an
    // id-based sample keeps a pair with p=1/k² and verifies an empty
    // set). Every scale factor — including sf10, where the stratum is
    // ~62k docs, the size the sf1 full oracle already handles — gets a
    // full hash-matched oracle with non-empty expected pairs. l7/l24
    // keep verifying the full corpus where the naive form fits.
    "l47_minhash_stratum" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.minHashLshPairs(
          docs(s, dir).filter(
            substring(md5(substring(col("text"), 1, 16)), 1, 1).isin("0", "1")),
          n = 3, numHashes = 64, bands = 32, threshold = 0.5),
      Some(jaccardOracle.replace("WHERE len(",
        "WHERE substring(md5(substring(text,1,16)),1,1) IN ('0','1') AND len(")))),

    "l48_clusters_stratum" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.nearDupClusters(
          Dedup.minHashLshPairs(
            docs(s, dir).filter(
            substring(md5(substring(col("text"), 1, 16)), 1, 1).isin("0", "1")),
            n = 3, numHashes = 64, bands = 32, threshold = 0.5)),
      Some("""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents
        |  WHERE substring(md5(substring(text,1,16)),1,1) IN ('0','1')
        |    AND len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM d),
        |sh AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS g
        |  FROM s),
        |pairs0 AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |jp AS (SELECT p.a, p.b FROM pairs0 p
        |  JOIN sizes sa ON p.a = sa.doc_id JOIN sizes sb ON p.b = sb.doc_id
        |  WHERE shared * 1.0 / (sa.sz + sb.sz - shared) > 0.5),
        |e AS (SELECT a, b FROM jp UNION SELECT b AS a, a AS b FROM jp),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (SELECT id, id AS label FROM nodes
        |  UNION SELECT e.a AS id, r.label FROM e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id""".stripMargin))),

    // SimHash near-dup pairs, staged-fingerprint oracle: the xxhash64
    // feature hashing is not portable SQL, but GIVEN the per-doc 64-bit
    // fingerprints the whole banding + hamming pipeline is — stage the
    // fingerprints, DuckDB re-derives the banded pairs and distances.
    "l8_simhash" -> ((
      (s: SparkSession, dir: String) => {
        stageForOracle(Dedup.simHash(docs(s, dir))
          .select(col("doc_id"), col("simhash")), "l8_simhash")
        Dedup.simHashPairs(docs(s, dir), maxHamming = 3)
      },
      Some(s"""WITH s AS (SELECT doc_id, simhash
        |  FROM read_parquet('$OracleStageRoot/l8_simhash/*.parquet')),
        |b AS (SELECT doc_id, simhash, band,
        |    (simhash >> (band * 16)) & 65535 AS bucket
        |  FROM s, (SELECT unnest([0, 1, 2, 3]) AS band)),
        |p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |    bit_count(xor(x.simhash, y.simhash)) AS hamming
        |  FROM b x JOIN b y
        |    ON x.band = y.band AND x.bucket = y.bucket
        |   AND x.doc_id < y.doc_id)
        |SELECT a, b, CAST(hamming AS INT) AS hamming
        |FROM p WHERE hamming <= 3""".stripMargin))),

    // SemDeDup: deterministic k-means over embeddings, then cosine
    // near-dup pruning WITHIN clusters only. Staged-assignment oracle:
    // the k-means itself has no SQL form, but GIVEN the cluster
    // assignments the within-cluster pruning rule and stats are exact
    // SQL — stage (vec_id, cluster), DuckDB re-derives pruned counts.
    // SemanticDedupSpec still pins the Lloyd replay and determinism.
    "l39_semantic_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val sd = SemanticDedup.semanticDedup(emb(s, dir), k = 8, iters = 5,
          threshold = 0.4)
        stageForOracle(sd.select(col("vec_id"), col("cluster")), "l39_assign")
        sd.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"),
            sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH asg AS (SELECT vec_id, cluster
        |  FROM read_parquet('$OracleStageRoot/l39_assign/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pruned AS (SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4)
        |SELECT cluster, COUNT(*) AS n_members,
        |  CAST(SUM(CASE WHEN asg.vec_id IN (SELECT vec_id FROM pruned)
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned
        |FROM asg GROUP BY cluster ORDER BY cluster""".stripMargin))),

    // --- similarity search ---
    "l9_sim_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 3)
          .select(col("query_id"), col("nbr_id"), col("cosine"),
            col("rank").cast("long"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT q.query_id, e.vec_id AS nbr_id,
        |    list_cosine_similarity(e.v, q.qv) AS c
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, nbr_id, c,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nbr_id) AS rnk
        |  FROM s)
        |SELECT query_id, nbr_id, round(c, 4) AS cosine, rnk AS rank
        |FROM r WHERE rnk <= 3""".stripMargin))),

    "l10_cosine_near_dup" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.cosineNearDupPairs(emb(s, dir), threshold = 0.4),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) > 0.4""".stripMargin))),

    // bucketed near-dup at a genuine near-dup threshold: near-dups are
    // planted by unioning exact embedding copies under shifted ids (the
    // dedup use case); identical vectors share every LSH bucket, so the
    // bucketed plan's recall is structural, not probabilistic, and the
    // result hash-matches the exact all-pairs oracle
    // Bucketed cosine near-dup (the scale path of l10): LSH candidates,
    // exact-cosine verification. LSH recall is probabilistic for
    // genuinely-near-threshold pairs (the sf10 gate surfaced 8 misses in
    // 35k pairs at 32k vectors), so the oracle follows the
    // staged-candidate pattern — DuckDB re-derives the EXACT cosine
    // filter over the staged candidate pairs (precision pinned
    // hash-exact) — while the in-query require pins the contract the
    // operator does guarantee: FULL recall on exact duplicates (the
    // planted +1000000 mirrors share every bucket of every table).
    "l19_cosine_bucketed" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        val planted = e.unionByName(
          e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        // persist: the candidate join is the expensive stage and feeds
        // the oracle staging AND the verification; the verified result
        // additionally serves the recall require and the returned frame —
        // without caching the bucketed self-join executed three times
        val cand = Similarity.cosineNearDupCandidatesBucketed(planted,
          numPlanes = 16, tables = 2).persist()
        stageForOracle(cand.select(col("a"), col("b")), "l19_cand")
        val out = Similarity.verifyCosineCandidates(cand, threshold = 0.95)
          .persist()
        val nPlanted = e.count()
        val found = out.filter(col("b") === col("a") + 1000000L).count()
        require(found == nPlanted,
          s"exact duplicates must ALL be found: $found of $nPlanted")
        out
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, v FROM e
        |  UNION ALL SELECT vec_id + 1000000, v FROM e),
        |cand AS (SELECT DISTINCT a, b
        |  FROM read_parquet('$OracleStageRoot/l19_cand/*.parquet'))
        |SELECT cand.a, cand.b,
        |  round(list_cosine_similarity(ua.v, ub.v), 4) AS cosine
        |FROM cand
        |JOIN u ua ON ua.vec_id = cand.a
        |JOIN u ub ON ub.vec_id = cand.b
        |WHERE list_cosine_similarity(ua.v, ub.v) > 0.95""".stripMargin))),

    // LSH-bucketed ANN, staged-candidate oracle: the bucketing itself
    // (xxhash64 random planes) is not expressible in portable SQL, so
    // the Spark-computed candidate PAIRS are staged as parquet and
    // DuckDB verifies the exact top-k over the SAME candidate sets —
    // any drift between staging and scoring surfaces as a hash
    // mismatch. Recall vs brute force stays pinned in LlmOpsSpec.
    "l11_ann_lsh" -> ((
      (s: SparkSession, dir: String) => {
        // persist: bucketing and the exact rerank both scan the embeddings
        val e = emb(s, dir).persist()
        val q = e.filter(col("vec_id") < 10)
        stageForOracle(Similarity.lshCandidatePairs(e, q,
          numPlanes = 4, tables = 8), "l11_candidates")
        // exact top-k over the STAGED candidates (same scoring tail as
        // lshTopK; buckets hash once, result/oracle share one set)
        graft.llmops.Pq.rerankExact(e, q,
          s.read.parquet(s"$OracleStageRoot/l11_candidates"), k = 3)
      },
      Some(annCandidateOracle("l11_candidates")))),

    // IVF ANN (coarse quantization + nprobe lists): same staged-candidate
    // oracle pattern as l11; recall pinned in LlmOpsSpec
    "l20_ann_ivf" -> ((
      (s: SparkSession, dir: String) => {
        // persist: centroid sample, corpus assignment, and rerank re-scans
        val e = emb(s, dir).persist()
        val q = e.filter(col("vec_id") < 10)
        stageForOracle(Similarity.ivfCandidatePairs(e, q,
          nlist = 16, nprobe = 4), "l20_candidates")
        // exact top-k over the staged candidates (see l11)
        graft.llmops.Pq.rerankExact(e, q,
          s.read.parquet(s"$OracleStageRoot/l20_candidates"), k = 3)
      },
      Some(annCandidateOracle("l20_candidates")))),

    // nested-type surface: list column access and folds on both engines
    "l13_array_surface" -> ((
      (s: SparkSession, dir: String) =>
        emb(s, dir).select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("first_dim"),
          round(aggregate(transform(col("embedding"), _.cast("double")),
            lit(0.0), (acc, x) => acc + x), 4).as("sum_dims")),
      Some("""SELECT vec_id, len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 4) AS first_dim,
        |  round(list_sum(embedding::DOUBLE[]), 4) AS sum_dims
        |FROM embeddings""".stripMargin))),

    // JSON string surface: extract a field from the props JSON column
    "l14_json_extract" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events").select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id, CAST(props->>'k' AS BIGINT) AS k
        |FROM events""".stripMargin))),

    // corpus vocabulary: top-50 tokens by document frequency (explode +
    // two-level agg + deterministic top-k)
    "l15_vocab_topk" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir)
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("tok"))
          .limit(50),
      Some("""SELECT tok, COUNT(*) AS df FROM (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |GROUP BY tok ORDER BY df DESC, tok LIMIT 50""".stripMargin))),

    // corpus length distribution: exact interpolated percentiles
    "l16_length_percentiles" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir).agg(
          round(expr("percentile(n_chars, 0.5)") + 1e-9, 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)") + 1e-9, 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)") + 1e-9, 4).as("p99"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")),
      Some("""SELECT
        |  round(quantile_cont(n_chars, 0.5) + 1e-9, 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9) + 1e-9, 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99) + 1e-9, 4) AS p99,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents""".stripMargin))),

    // train/benchmark contamination: corpus docs whose normalized
    // fingerprint collides with the held-out benchmark slice
    "l17_contamination" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val fp = TextOps.fingerprint(col("text"))
        val corpus = d.select(col("doc_id"), fp.as("fp"))
        val benchmark = d.filter(col("doc_id") % 97 === 0)
          .select(fp.as("fp")).distinct()
        corpus.join(benchmark, Seq("fp"), "left_semi")
          .select(col("doc_id"), col("fp"))
      },
      Some("""WITH f AS (SELECT doc_id,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp FROM f
        |WHERE fp IN (SELECT fp FROM f WHERE doc_id % 97 = 0)""".stripMargin))),

    // --- multimodal: real PNG/WAV decode + real AVI demux (only
    // compressed codecs fall back to Multimodal.decodeStub) ---
    // REAL image decode: each document renders to a genuine PNG
    // (ImageIO encode on executors), the feature pass decodes it back
    // with ImageIO — the oracle verifies the decoded dimensions
    // INDEPENDENTLY (they are a pure function of the text byte length),
    // so a broken decode hash-mismatches; the pixel mean is the staged
    // non-portable part (its math is pinned in LlmOpsSpec against the
    // raw pixel array). Audio/video demux remains the documented stub.
    "l12_multimodal" -> ((
      (s: SparkSession, dir: String) => {
        val feats = Multimodal.extractFeatures(
          Multimodal.asPngBlobs(docs(s, dir))).toDF()
        val out = feats.select(col("doc_id"),
          col("width").cast("long"), col("height").cast("long"),
          round(col("mean_byte"), 4).as("mean_px"))
        stageForOracle(out.select(col("doc_id"), col("mean_px")), "l12_feats")
        out
      },
      Some(s"""SELECT d.doc_id,
        |  8 + (octet_length(encode(d.text)) % 24) AS width,
        |  8 + ((octet_length(encode(d.text)) * 7) % 24) AS height,
        |  f.mean_px
        |FROM documents d
        |JOIN read_parquet('$OracleStageRoot/l12_feats/*.parquet') f
        |  ON d.doc_id = f.doc_id""".stripMargin))),

    // §2.11 ★ REAL audio decode: per-doc deterministic square-wave PCM16
    // WAV blobs (JDK javax.sound.sampled encode — genuine RIFF
    // containers), decoded back through AudioSystem on executors in the
    // same per-partition batch shape as the image path. The oracle checks
    // container-level properties the decode must actually recover:
    // sample rate and channel count from the parsed format, the frame
    // count from the PCM stream length, and the RMS amplitude over the
    // decoded samples (a square wave keeps every sample at exactly ±amp,
    // so RMS == amp exactly — independently computable from doc_id).
    // Only compressed codecs (mp3/aac) remain stubbed; WAV is real.
    "l46_wav_audio" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val blob = Multimodal.encodeWav(id)
            val (sr, ch, frames, rms) = Multimodal.decodeWav(blob)
            // canonical PCM WAV = 44-byte RIFF header + 2 bytes/frame
            require(blob.length == 44 + 2 * frames,
              s"doc $id: unexpected WAV container size ${blob.length}")
            (id, sr, ch, frames, rms)
          })
          .toDF("doc_id", "sample_rate", "channels", "n_frames", "rms")
      },
      Some("""SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(400 + (doc_id % 97) * 8 AS INT) AS n_frames,
        |  CAST(1000 + (doc_id % 29) * 500 AS DOUBLE) AS rms
        |FROM documents""".stripMargin))),

    // REAL compressed-audio decode: each doc's square-wave PCM WAV is
    // transcoded to G.711 (μ-law for even ids, A-law for odd) through
    // the JDK's genuine G.711 codecs, then decoded back — container
    // parse, codec expansion to PCM16, feature extraction. A square
    // wave keeps every sample at one magnitude, so the round-tripped
    // RMS is a per-(amp, codec) constant from the public G.711
    // quantization tables; the oracle joins those 29 constants per
    // codec (pinned independently by LlmOpsSpec) against the
    // doc_id-derived amp class. Only perceptual codecs (mp3/aac/opus)
    // remain out of reach without codec jars.
    "l60_g711_audio" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val aLaw = id % 2 == 1
            val blob = Multimodal.transcodeG711(Multimodal.encodeWav(id), aLaw)
            val (codec, sr, ch, frames, rms) = Multimodal.decodeAudio(blob)
            (id, codec, sr, ch, frames, math.rint(rms * 10000) / 10000)
          })
          .toDF("doc_id", "codec", "sample_rate", "channels", "n_frames", "rms")
      },
      Some("""WITH rt(k, ulaw_rms, alaw_rms) AS (VALUES
        |  (0, 988.0, 1008.0), (1, 1500.0, 1504.0), (2, 1980.0, 2016.0),
        |  (3, 2492.0, 2496.0), (4, 3004.0, 3008.0), (5, 3516.0, 3520.0),
        |  (6, 4092.0, 4032.0), (7, 4604.0, 4480.0), (8, 5116.0, 4992.0),
        |  (9, 5628.0, 5504.0), (10, 5884.0, 6016.0), (11, 6396.0, 6528.0),
        |  (12, 6908.0, 7040.0), (13, 7420.0, 7552.0), (14, 7932.0, 8064.0),
        |  (15, 8316.0, 8448.0), (16, 8828.0, 8960.0), (17, 9340.0, 9472.0),
        |  (18, 9852.0, 9984.0), (19, 10364.0, 10496.0),
        |  (20, 10876.0, 11008.0), (21, 11388.0, 11520.0),
        |  (22, 11900.0, 12032.0), (23, 12412.0, 12544.0),
        |  (24, 12924.0, 13056.0), (25, 13436.0, 13568.0),
        |  (26, 13948.0, 14080.0), (27, 14460.0, 14592.0),
        |  (28, 14972.0, 15104.0))
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 1 THEN 'ALAW' ELSE 'ULAW' END AS codec,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(400 + (doc_id % 97) * 8 AS INT) AS n_frames,
        |  CASE WHEN doc_id % 2 = 1 THEN alaw_rms ELSE ulaw_rms END AS rms
        |FROM documents JOIN rt ON rt.k = doc_id % 29""".stripMargin))),

    // perceptual-format CONTAINER metadata without decode: per doc,
    // spec-exact MP3 (MPEG-1 Layer III headers), ADTS-AAC, and Ogg-Opus
    // (RFC 3533 pages, CRC32 verified; RFC 7845 OpusHead/granule)
    // fixtures are built and then walked by real header parsers —
    // duration, sample rate, channels, frame count, byte size — the
    // same demux-without-decode move as l23's AVI walker (payload
    // decode genuinely needs codec jars this container lacks). The
    // oracle recomputes every field from the public header arithmetic:
    // frame sizes from the bitrate/rate tables and padding bits,
    // durations from samples-per-frame, Ogg page sizes from the lacing
    // layout.
    "l63_codec_metadata" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.flatMap { id =>
            val m = Multimodal.parseMp3(Multimodal.encodeMp3(id))
            val a = Multimodal.parseAdts(Multimodal.encodeAdts(id))
            val o = Multimodal.parseOpus(Multimodal.encodeOpus(id))
            Seq((id, "mp3", m._1, m._2, m._3, m._4, m._5),
              (id, "aac", a._1, a._2, a._3, a._4, a._5),
              (id, "opus", o._1, o._2, o._3, o._4, o._5))
          })
          .toDF("doc_id", "fmt", "sample_rate", "channels", "n_frames",
            "duration_us", "n_bytes")
      },
      Some("""WITH br(i, kbps) AS (VALUES (1,32),(2,40),(3,48),(4,56),
        |  (5,64),(6,80),(7,96),(8,112),(9,128),(10,160),(11,192),
        |  (12,224),(13,256),(14,320)),
        |sr3(i, hz) AS (VALUES (0,44100),(1,48000),(2,32000)),
        |aacsr(i, hz) AS (VALUES (3,48000),(4,44100),(5,32000),(6,24000),
        |  (7,22050),(8,16000),(9,12000),(10,11025),(11,8000)),
        |mp3 AS (SELECT doc_id, 'mp3' AS fmt,
        |    CAST(sr3.hz AS INT) AS sample_rate,
        |    CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS INT)
        |      AS channels,
        |    CAST(10 + doc_id % 50 AS INT) AS n_frames,
        |    CAST((10 + doc_id % 50) * 1152 * 1000000 // sr3.hz AS BIGINT)
        |      AS duration_us,
        |    CAST((10 + doc_id % 50) * (144000 * br.kbps // sr3.hz) +
        |      CASE WHEN doc_id % 2 = 0 THEN (10 + doc_id % 50 + 1) // 2
        |           ELSE (10 + doc_id % 50) // 2 END AS BIGINT) AS n_bytes
        |  FROM documents
        |  JOIN br ON br.i = 1 + doc_id % 14
        |  JOIN sr3 ON sr3.i = doc_id % 3),
        |aac AS (SELECT doc_id, 'aac' AS fmt,
        |    CAST(aacsr.hz AS INT) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) AS channels,
        |    CAST(8 + doc_id % 40 AS INT) AS n_frames,
        |    CAST((8 + doc_id % 40) * 1024 * 1000000 // aacsr.hz AS BIGINT)
        |      AS duration_us,
        |    CAST((8 + doc_id % 40) * (57 + doc_id % 100) AS BIGINT)
        |      AS n_bytes
        |  FROM documents JOIN aacsr ON aacsr.i = 3 + doc_id % 9),
        |opus AS (SELECT doc_id, 'opus' AS fmt,
        |    CAST(48000 AS INT) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) AS channels,
        |    CAST(2 + doc_id % 20 AS INT) AS n_frames,
        |    CAST((2 + doc_id % 20) * 20000 AS BIGINT) AS duration_us,
        |    CAST(47 + 44 + (2 + doc_id % 20) * (28 + 20 + doc_id % 50)
        |      AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT * FROM mp3 UNION ALL SELECT * FROM aac
        |UNION ALL SELECT * FROM opus""".stripMargin))),

    // incremental SemDeDup against a COMMITTED corpus — the embedding-
    // space analogue of l57: the corpus keeps a committed k-means
    // assignment table under an identity(cluster) partition hint, an
    // incoming batch (second half + planted EXACT copies of every 9th
    // corpus vector) assigns to the same centroids map-side and joins
    // cluster-to-cluster with the corpus served in place (one-sided SPJ
    // pinned in-query), then exact-cosine verification picks the best
    // match by 4dp-rounded cosine (min corpus id on ties — reproducible
    // across engines). Staged-candidate oracle (l20's pattern): DuckDB
    // re-derives the exact cosine filter, ranking, and the left join
    // over the staged candidates/vectors; the in-query require pins the
    // structural recall contract (an exact copy shares its source's
    // argmin cluster, so every planted copy MUST be absorbed).
    "l64_incremental_semdedup" -> ((
      (s: SparkSession, dir: String) => {
        val wh = java.nio.file.Files.createTempDirectory("graft-isem-")
          .toString
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_isem",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_isem.warehouse", wh)
        iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
        val e = emb(iso, dir).select(col("vec_id"), col("embedding"))
        val half = e.count() / 2
        val corpus = e.filter(col("vec_id") < half)
        val incoming = e.filter(col("vec_id") >= half)
          .union(corpus.filter(col("vec_id") % 9 === 0)
            .select((col("vec_id") + 3000000L).as("vec_id"),
              col("embedding")))
        // the incoming-half oracle staging depends on nothing the
        // centroid training or the commits produce — run it CONCURRENTLY
        // (guide §2.6): its scan+write back-fills the cores Lloyd's
        // driver-side collects and the commit protocol leave idle
        val incStage = new java.util.concurrent.FutureTask[Unit](() =>
          stageForOracle(incoming.select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("v")),
            "l64_inc"))
        val incThread = new Thread(incStage, "l64-inc-stage")
        incThread.setDaemon(true)
        incThread.start()
        val trained = SemanticDedup.kmeansCentroids(corpus, k = 8, iters = 3)
        val cat = new graft.catalog.GraftCatalog(iso, wh)
        val w = new graft.write.GraftWriter(cat)
        // the centroids are COMMITTED state (k rows), not per-run driver
        // artifacts: the incremental path loads this table instead of
        // re-running Lloyd's — the property that makes per-batch ingest
        // possible (re-training under drift is offline maintenance)
        w.writeTable("main", "corpus_centroids",
          Seq(SemanticDedup.centroidsToDf(iso, trained)),
          graft.write.Append,
          graft.write.WriteConfig(retryUnitMs = 10), "seed")
        val cents = SemanticDedup.loadCentroids(
          iso.table("graft_isem.main.corpus_centroids"))
        w.writeTable("main", "corpus_assign",
          Seq(SemanticDedup.assign(corpus, cents)),
          graft.write.Append, graft.write.WriteConfig(retryUnitMs = 10,
            partitions =
              Seq(graft.partition.PartitionHint.identity("cluster"))),
          "seed")
        val committedAssign = iso.table("graft_isem.main.corpus_assign")
        // pin the 100-TB property: the committed assignment table never
        // shuffles — a plain relation joined on cluster plans with ONE
        // exchange (the incoming side)
        iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = iso.range(0, 8)
          .select(col("id").cast("int").as("cluster"))
        val nSh = graft.plans.PlanOps.shuffles(
          probe.join(committedAssign.select("cluster", "vec_id"),
            Seq("cluster")))
        iso.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        require(nSh == 1,
          s"committed assignment table must SPJ-resolve (1 incoming-side " +
            s"exchange), got $nSh")
        stageForOracle(committedAssign.select(col("vec_id"), col("v")),
          "l64_corpus")
        stageForOracle(SemanticDedup.incrementalSemanticCandidates(
          incoming, committedAssign, cents), "l64_cand")
        try incStage.get() // staged inc vectors must exist for the oracle
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
        // persist: the recall require and the returned frame otherwise
        // execute the whole candidate-join + verify pipeline twice
        val res = SemanticDedup.incrementalSemanticDedup(
          incoming, committedAssign, cents).persist()
        // structural recall: an exact copy shares its source's argmin
        // cluster and has cosine 1 — none may survive as "new"
        require(res.filter(col("vec_id") >= 3000000L && col("is_new"))
          .count() == 0, "planted exact copies must be absorbed")
        res
      },
      Some(s"""WITH cor AS (SELECT vec_id, v
        |  FROM read_parquet('$OracleStageRoot/l64_corpus/*.parquet')),
        |inc AS (SELECT vec_id, v
        |  FROM read_parquet('$OracleStageRoot/l64_inc/*.parquet')),
        |cand AS (SELECT DISTINCT inc_id, corpus_id
        |  FROM read_parquet('$OracleStageRoot/l64_cand/*.parquet')),
        |est AS (SELECT c.inc_id, c.corpus_id,
        |    round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) AS cos
        |  FROM cand c
        |  JOIN inc a ON a.vec_id = c.inc_id
        |  JOIN cor b ON b.vec_id = c.corpus_id),
        |best AS (SELECT inc_id, corpus_id, cos,
        |    row_number() OVER (PARTITION BY inc_id
        |      ORDER BY cos DESC, corpus_id) AS rn
        |  FROM est WHERE cos >= 0.4)
        |SELECT i.vec_id, b.corpus_id AS match_id, b.cos AS cosine,
        |  b.corpus_id IS NULL AS is_new
        |FROM inc i LEFT JOIN best b ON b.inc_id = i.vec_id AND b.rn = 1"""
        .stripMargin))),

    // MULTI-PROBE incremental SemDeDup (l64 with probes = 2): the
    // near-copy recall lever — an incoming vector probes its TWO
    // nearest clusters (map-side second argmin over the same broadcast
    // centroids; the committed corpus side stays single-assignment, so
    // the SPJ story is unchanged). Incoming carries ε=0.1-perturbed
    // near-copies of every 7th corpus vector (relative ±ε per component,
    // deterministic xxhash signs — cosine ≈ 0.995, far above the 0.4
    // threshold, so absorption is decided purely by CANDIDATE recall).
    // Staged-candidate oracle re-derives the exact-cosine verify +
    // ranking over the probes=2 candidate set; the in-query require
    // pins the measured multi-probe recall floor (SemanticDedupSpec
    // measures 1.000 at ε=0.1; the entry requires ≥ 0.9).
    "l66_multiprobe_semdedup" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        val half = e.count() / 2
        val corpus = e.filter(col("vec_id") < half)
        val eps = 0.1
        val perturbed = corpus.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 4000000L).as("vec_id"),
            transform(col("embedding"),
              (x, i) => x.cast("double") * (lit(1.0) + lit(eps) *
                (pmod(xxhash64(col("vec_id"), i), lit(2)) * 2 - 1)
                  .cast("double"))).as("embedding"))
        val incoming = e.filter(col("vec_id") >= half)
          .select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("embedding"))
          .unionByName(perturbed)
        // the incoming staging depends only on `incoming` — overlap it
        // with the kmeans training collects (guide §2.6, the l57/l64
        // pattern)
        val incStage = new java.util.concurrent.FutureTask[Unit](() =>
          stageForOracle(incoming.select(col("vec_id"),
            col("embedding").as("v")), "l66_inc"))
        val incThread = new Thread(incStage, "l66-inc-stage")
        incThread.setDaemon(true)
        incThread.start()
        val cents = SemanticDedup.kmeansCentroids(corpus, k = 8, iters = 3)
        // persist: the corpus assignment feeds the corpus staging, the
        // candidate staging, and the dedup — three executions of the
        // map-side assign over the corpus otherwise
        val assignTbl = SemanticDedup.assign(corpus, cents).persist()
        stageForOracle(assignTbl.select(col("vec_id"), col("v")),
          "l66_corpus")
        stageForOracle(SemanticDedup.incrementalSemanticCandidates(
          incoming, assignTbl, cents, probes = 2), "l66_cand")
        try incStage.get() // staged inc vectors must exist for the oracle
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
        // persist + ONE aggregate for the recall floor: unpersisted, the
        // candidate-join pipeline executed four times (two counts, the
        // require, the returned frame)
        val res = SemanticDedup.incrementalSemanticDedup(
          incoming, assignTbl, cents, probes = 2).persist()
        val floor = res.filter(col("vec_id") >= 4000000L)
          .agg(count(lit(1)).as("total"),
            sum(when(!col("is_new"), 1L).otherwise(0L)).as("absorbed"))
          .collect()(0)
        val (total, absorbed) =
          (floor.getAs[Long]("total"), floor.getAs[Long]("absorbed"))
        require(total > 0 && absorbed.toDouble / total >= 0.9,
          s"multi-probe must absorb >= 90% of eps=0.1 near-copies, " +
            s"got $absorbed/$total")
        res
      },
      Some(s"""WITH cor AS (SELECT vec_id, v
        |  FROM read_parquet('$OracleStageRoot/l66_corpus/*.parquet')),
        |inc AS (SELECT vec_id, v
        |  FROM read_parquet('$OracleStageRoot/l66_inc/*.parquet')),
        |cand AS (SELECT DISTINCT inc_id, corpus_id
        |  FROM read_parquet('$OracleStageRoot/l66_cand/*.parquet')),
        |est AS (SELECT c.inc_id, c.corpus_id,
        |    round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) AS cos
        |  FROM cand c
        |  JOIN inc a ON a.vec_id = c.inc_id
        |  JOIN cor b ON b.vec_id = c.corpus_id),
        |best AS (SELECT inc_id, corpus_id, cos,
        |    row_number() OVER (PARTITION BY inc_id
        |      ORDER BY cos DESC, corpus_id) AS rn
        |  FROM est WHERE cos >= 0.4)
        |SELECT i.vec_id, b.corpus_id AS match_id, b.cos AS cosine,
        |  b.corpus_id IS NULL AS is_new
        |FROM inc i LEFT JOIN best b ON b.inc_id = i.vec_id AND b.rn = 1"""
        .stripMargin))),

    // MP4/ISO-BMFF container metadata without decode — the VIDEO
    // edition of l63: per doc a spec-exact box tree (ftyp/moov/mvhd/
    // trak/tkhd/mdia/mdhd/hdlr/minf/stbl/stsd/stts/stsc/stsz/stco +
    // mdat; ISO 14496-12) is built with deterministic parameters and
    // walked back by a real recursive box parser (bounds-checked sizes,
    // loud on corrupt input — MultimodalSpec). The oracle recomputes
    // every field from the box-layout arithmetic: track count and
    // codec fourccs from the layout rule, sample counts from the stsz
    // parameters, duration from the mvhd timescale math, total bytes
    // from the exact per-box size sums (439 B video trak, 385 B audio
    // trak, 108 B mvhd, 24 B ftyp, 8 B headers).
    "l65_mp4_metadata" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val (durUs, tracks, bytes) =
              Multimodal.parseMp4(Multimodal.encodeMp4(id))
            (id, tracks.length, tracks.map(_.codec).mkString(","),
              tracks.map(_.samples).sum, durUs, bytes)
          })
          .toDF("doc_id", "n_tracks", "codecs", "n_samples",
            "duration_us", "n_bytes")
      },
      Some("""WITH p AS (SELECT doc_id,
        |    5 + doc_id % 60 AS vframes,
        |    20 + doc_id % 80 AS vsize,
        |    (doc_id % 2 = 0) AS has_audio,
        |    40 + doc_id % 100 AS asamples,
        |    10 + doc_id % 30 AS asize
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN has_audio THEN 2 ELSE 1 END AS INT) AS n_tracks,
        |  CASE WHEN has_audio THEN 'avc1,mp4a' ELSE 'avc1' END AS codecs,
        |  CAST(vframes + CASE WHEN has_audio THEN asamples ELSE 0 END
        |    AS BIGINT) AS n_samples,
        |  CAST(GREATEST(vframes * 1001 * 1000 // 30000,
        |    CASE WHEN has_audio THEN asamples * 1024 * 1000 // 48000
        |         ELSE 0 END) * 1000 AS BIGINT) AS duration_us,
        |  CAST(24 + 8 + 108 + 439
        |    + CASE WHEN has_audio THEN 385 ELSE 0 END
        |    + 8 + vframes * vsize
        |    + CASE WHEN has_audio THEN asamples * asize ELSE 0 END
        |    AS BIGINT) AS n_bytes
        |FROM p""".stripMargin))),

    // first-occurrence paragraph dedup (C4 semantics: keep ONE canonical
    // copy of repeated content — l35 instead drops over-frequent spans
    // everywhere); winner = smallest (doc_id, pos), so fully
    // deterministic, and the oracle rebuilds the deduplicated text
    "l49_paragraph_dedup" -> ((
      (s: SparkSession, dir: String) => Dedup.paragraphDedup(docs(s, dir)),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS para
        |  FROM (SELECT doc_id, ws,
        |    unnest(range(CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i FROM w)),
        |f AS (SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1 AS keep
        |  FROM p)
        |SELECT doc_id, COUNT(*) AS n_paras,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN keep THEN para END, ' ' ORDER BY pos), '')
        |    AS dedup_text
        |FROM f GROUP BY doc_id""".stripMargin))),

    // overlapping-window exact-substring dedup (ExactSubstr semantics:
    // any 8-word span seen before — anywhere, at any alignment — marks
    // its covered words for removal; the first occurrence survives).
    // Complements l35 (disjoint spans, drop over-frequent) and l49
    // (disjoint paragraphs, keep first): only this one catches
    // duplicated runs regardless of alignment
    "l50_window_dedup" -> ((
      (s: SparkSession, dir: String) => Dedup.windowDedup(docs(s, dir)),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |words AS (SELECT doc_id, CAST(i AS INT) AS wpos, ws[i+1] AS word
        |  FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM w)),
        |wins AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(ws[(i+1):(i+8)], ' ') AS win
        |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 7)) AS i
        |        FROM w WHERE len(ws) >= 8)),
        |f AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM wins),
        |cov AS (SELECT DISTINCT doc_id, pos + unnest(range(8)) AS wpos
        |  FROM f WHERE rn > 1),
        |kept AS (SELECT wd.doc_id, wd.wpos, wd.word
        |  FROM words wd LEFT JOIN cov
        |    ON wd.doc_id = cov.doc_id AND wd.wpos = cov.wpos
        |  WHERE cov.wpos IS NULL)
        |SELECT b.doc_id, b.n_words,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  COALESCE(k.clean_text, '') AS clean_text
        |FROM (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM w) b
        |LEFT JOIN (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(word, ' ' ORDER BY wpos) AS clean_text
        |  FROM kept GROUP BY doc_id) k USING (doc_id)""".stripMargin))),

    // mergeable HLL cardinality sketches (Spark-native Datasketches):
    // per-source token-vocabulary sketches folded by hll_union_agg into
    // the corpus row — the oracle verifies the exact counts AND that
    // every estimate (including the one computed from the sketch MERGE,
    // never from re-scanned tokens) lands within the 3% audit tolerance
    "l51_hll_cardinality" -> ((
      (s: SparkSession, dir: String) => TextOps.cardinalitySketch(docs(s, dir)),
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents)
        |SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_distinct,
        |  true AS sketch_ok
        |FROM tok GROUP BY source
        |UNION ALL
        |SELECT '__all__' AS source, CAST(COUNT(DISTINCT w) AS BIGINT),
        |  true AS sketch_ok
        |FROM tok""".stripMargin))),

    // Zipf-law slope of the vocabulary (corpus-health diagnostic):
    // least-squares log(freq) ~ log(rank) over the top-1000 terms,
    // rank ties broken on the term so both engines fit identical points
    "l52_zipf_fit" -> ((
      (s: SparkSession, dir: String) => TextOps.zipfFit(docs(s, dir)),
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |freq AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
        |ranked AS (SELECT f, row_number()
        |    OVER (ORDER BY f DESC, w) AS r FROM freq
        |  QUALIFY r <= 1000),
        |pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x,
        |    ln(CAST(f AS DOUBLE)) AS y FROM ranked),
        |fit AS (SELECT COUNT(*) AS n_ranks, avg(x) AS mx, avg(y) AS my,
        |    avg(x*y) AS mxy, avg(x*x) AS mxx FROM pts)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM freq) AS n_vocab,
        |  n_ranks,
        |  round(-(mxy - mx*my) / (mxx - mx*mx) + 1e-9, 4) AS zipf_alpha,
        |  round(my - (mxy - mx*my) / (mxx - mx*mx) * mx + 1e-9, 4)
        |    AS intercept
        |FROM fit""".stripMargin))),

    // overlap-coefficient (containment) near-dups — the MassiveText
    // complement to Jaccard (l6): one doc nearly CONTAINING another
    // surfaces at its true containment even when the union-diluted
    // Jaccard stays under threshold. Threshold 0.6 on the planted corpus
    // catches pairs Jaccard@0.5 also sees AND asymmetric near-supersets.
    // Like l6, defaults to the auto-derived df cap since r12 (uncapped
    // is `exact = true`); the oracle re-derives the cap in SQL.
    "l53_containment" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.containmentPairs(docs(s, dir), n = 3, threshold = 0.6),
      Some(s"""$autoCapShinglePrefix,
        |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
        |SELECT p.a, p.b,
        |  round(shared * 1.0 / least(sa.sz, sb.sz) + 1e-9, 4) AS containment
        |FROM pairs p
        |JOIN sizes sa ON p.a = sa.doc_id
        |JOIN sizes sb ON p.b = sb.doc_id
        |WHERE shared * 1.0 / least(sa.sz, sb.sz) >= 0.6""".stripMargin))),

    // the corpus-scale containment variant — l53's overlap-coefficient
    // relation under the SAME df-cap discipline as l18: shingles with
    // document frequency > 10 are dropped BEFORE the equality self-join
    // AND the size aggregate, bounding per-shingle fan-out at cap².
    // This is the formulation that survives 100 TB (the uncapped l53 is
    // the documented naive baseline, sharing l6's infeasible-at-sf10
    // record); the oracle applies the identical cap so containment is
    // computed over the identical capped shingle sets.
    "l54_containment_capped" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.containmentPairs(docs(s, dir), n = 3, threshold = 0.6,
          maxShingleFreq = Some(10)),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM d),
        |sh0 AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS g
        |  FROM s),
        |rare AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) <= 10),
        |sh AS (SELECT sh0.doc_id, sh0.g FROM sh0 JOIN rare USING (g)),
        |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
        |SELECT p.a, p.b,
        |  round(shared * 1.0 / least(sa.sz, sb.sz) + 1e-9, 4) AS containment
        |FROM pairs p
        |JOIN sizes sa ON p.a = sa.doc_id
        |JOIN sizes sb ON p.b = sb.doc_id
        |WHERE shared * 1.0 / least(sa.sz, sb.sz) >= 0.6""".stripMargin))),

    // incremental NEAR-dup dedup against a COMMITTED corpus: the corpus
    // half's MinHash signatures AND their LSH band index — committed
    // with a bucket[8] partition hint on the 64-bit band key — go
    // through the real table/commit path, then an incoming batch —
    // second half + planted near-copies (one appended token) of every
    // 9th corpus doc — is deduped against the committed corpus via the
    // index join + signature-agreement verification, corpus TEXT never
    // rescanned. The candidate join reads the index through the DSv2
    // catalog with one-sided SPJ: the committed side is scanned map-only
    // in its bucket layout and ONLY the incoming batch shuffles — pinned
    // by the in-query require (exactly 1 exchange in the candidate
    // join). Staged-signature oracle (xxhash64 isn't portable SQL): both
    // signature tables are staged — the corpus side FROM THE COMMITTED
    // TABLE READ, so the commit round-trip is in the verified path —
    // and DuckDB re-derives banding, candidates, the match estimate,
    // and best-match selection exactly (the engine's bkey-hash
    // candidates are a collision-superset of the oracle's (band, bucket)
    // candidates, and the output is candidate-superset-invariant:
    // only pairs clearing the exact agreement threshold survive).
    "l57_incremental_near_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val wh = java.nio.file.Files.createTempDirectory("graft-inear-")
          .toString
        val iso = s.newSession()
        iso.conf.set("spark.sql.catalog.graft_inear",
          classOf[graft.catalog.GraftSparkCatalog].getName)
        iso.conf.set("spark.sql.catalog.graft_inear.warehouse", wh)
        iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
        val d = docs(iso, dir).select(col("doc_id"), col("text"))
        val half = d.count() / 2
        val corpus = d.filter(col("doc_id") < half)
        val incoming = d.filter(col("doc_id") >= half)
          .union(corpus.filter(col("doc_id") % 9 === 0)
            .select((col("doc_id") + 3000000L).as("doc_id"),
              concat(col("text"), lit(" graftmarker")).as("text")))
        val cat = new graft.catalog.GraftCatalog(iso, wh)
        val w = new graft.write.GraftWriter(cat)
        // the incoming-half MinHash staging reads nothing the corpus
        // commits write — run it CONCURRENTLY with them (guide §2.6):
        // its signature jobs back-fill the cores the commit protocol's
        // driver-side phases leave idle
        val incStage = new java.util.concurrent.FutureTask[Unit](() =>
          stageForOracle(Dedup.minHashSignatures(incoming), "l57_inc_sigs"))
        val incThread = new Thread(incStage, "l57-inc-stage")
        incThread.setDaemon(true)
        incThread.start()
        val corpusSigs = Dedup.minHashSignatures(corpus)
        w.writeTable("main", "corpus_sigs", Seq(corpusSigs),
          graft.write.Append, graft.write.WriteConfig(retryUnitMs = 10), "seed")
        // derive the band index from the COMMITTED signature table, not
        // the unmaterialized plan — deriving from `corpusSigs` would
        // re-run the whole corpus MinHash pass a second time
        w.writeTable("main", "corpus_bands",
          Seq(Dedup.sigBandKeys(cat.loadTable("main", "corpus_sigs").read())),
          graft.write.Append, graft.write.WriteConfig(retryUnitMs = 10,
            partitions = Seq(graft.partition.PartitionHint.bucket(8, "bkey"))),
          "seed")
        val committed = iso.table("graft_inear.main.corpus_sigs")
        val committedIdx = iso.table("graft_inear.main.corpus_bands")
        stageForOracle(committed, "l57_corpus_sigs")
        try incStage.get() // staged inc sigs must exist before read-back
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
        // the staged signatures ARE the incoming-side input (identical
        // rows by construction): read them back instead of re-running the
        // whole incoming-half MinHash pass a second time — the
        // same materialized-intermediate reuse l41/l43 pinned in r7
        val incSigs = iso.read.parquet(s"$OracleStageRoot/l57_inc_sigs")
        // pin the 100-TB property: the committed index never shuffles —
        // a plain relation joined to it plans with exactly ONE exchange
        // (the incoming side routing into the corpus's bucket layout).
        // The probe side is tiny and synthetic (the plan SHAPE is what
        // the pin checks; a corpus-scale probe would re-execute the
        // whole join just to read its plan) and broadcast is disabled
        // only for the probe, then restored so the RETURNED dedup plan
        // keeps its broadcast-verify joins.
        iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = iso.range(0, 64).select((col("id") * 7919L).as("bkey"))
        val nSh = graft.plans.PlanOps.shuffles(
          probe.join(committedIdx, Seq("bkey")))
        iso.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        require(nSh == 1,
          s"committed band index must SPJ-resolve (1 incoming-side " +
            s"exchange), got $nSh")
        Dedup.incrementalNearDedup(incSigs, committed,
          committedBandKeys = Some(committedIdx))
      },
      Some(s"""WITH cs AS (SELECT doc_id, sig
        |  FROM read_parquet('$OracleStageRoot/l57_corpus_sigs/*.parquet')),
        |inc AS (SELECT doc_id, sig
        |  FROM read_parquet('$OracleStageRoot/l57_inc_sigs/*.parquet')),
        |bands AS (SELECT unnest(range(0, 32)) AS band),
        |cb AS (SELECT doc_id, band, sig[band*2+1 : band*2+2] AS bucket
        |  FROM cs, bands),
        |ib AS (SELECT doc_id, band, sig[band*2+1 : band*2+2] AS bucket
        |  FROM inc, bands),
        |cand AS (SELECT DISTINCT ib.doc_id AS inc_id, cb.doc_id AS corpus_id
        |  FROM ib JOIN cb ON ib.band = cb.band AND ib.bucket = cb.bucket),
        |est AS (SELECT cand.inc_id, cand.corpus_id,
        |    len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) / 64.0
        |      AS est
        |  FROM cand
        |  JOIN inc a ON a.doc_id = cand.inc_id
        |  JOIN cs b ON b.doc_id = cand.corpus_id),
        |best AS (SELECT inc_id, corpus_id, est,
        |    row_number() OVER (PARTITION BY inc_id
        |      ORDER BY est DESC, corpus_id) AS rn
        |  FROM est WHERE est >= 0.6)
        |SELECT i.doc_id, b.corpus_id AS match_id,
        |  round(b.est + 1e-9, 4) AS est_jaccard,
        |  b.corpus_id IS NULL AS is_new
        |FROM inc i LEFT JOIN best b ON b.inc_id = i.doc_id AND b.rn = 1""".stripMargin))),

    // per-domain quota sampling: at most 10 docs per source, chosen by a
    // deterministic modular-permutation priority — the bounded min-k
    // aggregate route (never a per-domain window; see
    // TextOps.domainQuota). Selection ranks by the (priority, doc_id)
    // pair so the kept set is exactly the quota even when doc_ids past
    // 2^32 collide in the 32-bit permutation; the oracle's row_number
    // carries the same tiebreak.
    "l55_domain_quota" -> ((
      (s: SparkSession, dir: String) => TextOps.domainQuota(docs(s, dir), 10),
      Some("""WITH p AS (SELECT doc_id, source,
        |    (doc_id * 2654435761) % 4294967296 AS priority FROM documents),
        |r AS (SELECT doc_id, source, priority,
        |    row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rn
        |  FROM p)
        |SELECT doc_id, source, priority FROM r WHERE rn <= 10""".stripMargin))),

    // smoothed bigram-LM cross-entropy (context-aware perplexity proxy):
    // the corpus's own add-one bigram model scores each doc's mean
    // transition surprisal — the CCNet-style quality filter one level up
    // from l4's unigram form. Both engines build the identical model
    // (same smoothing arithmetic, same V) so scores hash-match.
    "l56_bigram_xent" -> ((
      (s: SparkSession, dir: String) => TextOps.bigramSurprisal(docs(s, dir)),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bi AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1,
        |    unnest(ts[2:len(ts)]) AS w2 FROM tk WHERE len(ts) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS vv FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        |model AS (SELECT c2.w1, c2.w2,
        |    ln((c2.c2 + 1.0) / (c1.c1 + vv)) AS lp
        |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  round(-avg(lp) + 1e-9, 4) AS bigram_xent
        |FROM bi JOIN model USING (w1, w2) GROUP BY doc_id""".stripMargin))),

    // URL canonicalization + URL-level dedup — the crawl-pipeline front
    // door. The synthetic corpus has no URL column, so the entry
    // constructs four deterministic messy variants per document
    // (scheme/host case, www., default port, tracking params, fragment,
    // trailing slash, param order) keyed by (source, doc_id mod classes);
    // variants 0/1/3 of the same key must collapse to ONE canonical URL.
    // Canonicalization is a map-only builtin-expression chain (all
    // RE2-compatible regexes, so the oracle replicates it verbatim);
    // dedup is a hash group-by with map-side partials — the l5 exact-
    // dedup scale shape, never pairwise.
    "l58_url_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir).select(col("doc_id"), col("source"),
          (col("doc_id") % 97).cast("string").as("pg"),
          (col("doc_id") % 7).cast("string").as("q"))
        val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW."), col("source"),
            lit(".Example.COM:443/a/"), col("pg"),
            lit("?utm_source=feed&id="), col("q"), lit("#top")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://"), col("source"), lit(".example.com/a/"),
              col("pg"), lit("?id="), col("q")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("http://"), col("source"), lit(".Example.COM:8080/b/"),
              col("pg"), lit("?b=2&a=1")))
          .otherwise(
            concat(lit("https://"), col("source"), lit(".example.com/a/"),
              col("pg"), lit("/?id="), col("q"), lit("&utm_campaign=x")))
        TextOps.urlDedup(d.select(col("doc_id"), url.as("url")))
      },
      Some("""WITH d AS (SELECT doc_id, source,
        |    CAST(doc_id % 97 AS VARCHAR) AS pg,
        |    CAST(doc_id % 7 AS VARCHAR) AS q FROM documents),
        |raw AS (SELECT doc_id,
        |  CASE
        |    WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' || source ||
        |      '.Example.COM:443/a/' || pg || '?utm_source=feed&id=' || q || '#top'
        |    WHEN doc_id % 4 = 1 THEN 'https://' || source ||
        |      '.example.com/a/' || pg || '?id=' || q
        |    WHEN doc_id % 4 = 2 THEN 'http://' || source ||
        |      '.Example.COM:8080/b/' || pg || '?b=2&a=1'
        |    ELSE 'https://' || source || '.example.com/a/' || pg ||
        |      '/?id=' || q || '&utm_campaign=x' END AS url FROM d),
        |parts AS (SELECT doc_id, trim(url) AS u FROM raw),
        |canon AS (SELECT doc_id,
        |  lower(regexp_extract(u, '(?i)^([a-z][a-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(lower(regexp_extract(u,
        |    '(?i)^[a-z][a-z0-9+.-]*://([^/:?#]*)', 1)), '^(www\.)+', '') AS host,
        |  regexp_extract(u, '(?i)^[a-z][a-z0-9+.-]*://[^/:?#]*:([0-9]+)', 1)
        |    AS port,
        |  regexp_extract(u, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |    AS path0,
        |  regexp_extract(u, '^[^#?]*\?([^#]*)', 1) AS query0
        |  FROM parts),
        |built AS (SELECT doc_id, scheme || '://' || host ||
        |  CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |       AND NOT (scheme = 'https' AND port = '443')
        |       THEN ':' || port ELSE '' END ||
        |  CASE WHEN path0 = '' OR path0 = '/' THEN '/'
        |       ELSE regexp_replace(path0, '/$', '') END ||
        |  CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
        |  FROM (SELECT *, array_to_string(list_sort(list_filter(
        |      string_split(query0, '&'),
        |      p -> NOT regexp_matches(p, '^(utm_[a-z]+|gclid|fbclid|ref)=')
        |        AND p <> '')), '&') AS qs FROM canon))
        |SELECT canonical_url, min(doc_id) AS keep_doc,
        |  CAST(count(*) AS BIGINT) AS n_variants
        |FROM built GROUP BY 1""".stripMargin))),

    // HTML/markup stripping — boilerplate removal. The corpus text is
    // plain, so the entry wraps each document in a deterministic page
    // shell (script + style + comment + nav div with entities) and the
    // strip chain must recover exactly the visible text: scripts/styles
    // as two separate non-greedy patterns (RE2 has no backreferences, so
    // the oracle can run the SAME patterns), comments, tags, entities
    // (&amp; decoded last), whitespace collapse. Map-only codegen chain.
    "l59_markup_strip" -> ((
      (s: SparkSession, dir: String) => {
        // the wrapper plants the adversarial shapes the strip must hold
        // against: a quoted `>` inside an attribute, a CDATA section
        // (content survives as text), and a plain-text inequality (must
        // NOT be eaten as a tag)
        val html = concat(
          lit("<html><head><script type=\"text/javascript\">var a=1;" +
            "</script><style>.x{color:red}</style></head><body>" +
            "<!-- nav --><a title=\"a>b\" href='q>r'>link</a>" +
            "<![CDATA[raw 2 < 3 text]]>x < y and p > q" +
            "<div id=\"menu\">Home &amp; About &lt;v"),
          (col("doc_id") % 5).cast("string"),
          lit("&gt;</div><p>"), col("text"), lit("</p></body></html>"))
        docs(s, dir).select(col("doc_id"),
          TextOps.stripMarkup(html).as("stripped"))
          .select(col("doc_id"), md5(col("stripped")).as("stripped_fp"),
            length(col("stripped")).cast("long").as("n_chars_stripped"))
      },
      Some("""WITH h AS (SELECT doc_id,
        |  '<html><head><script type="text/javascript">var a=1;</script>' ||
        |  '<style>.x{color:red}</style></head><body><!-- nav -->' ||
        |  '<a title="a>b" href=''q>r''>link</a>' ||
        |  '<![CDATA[raw 2 < 3 text]]>x < y and p > q' ||
        |  '<div id="menu">Home &amp; About &lt;v' ||
        |  CAST(doc_id % 5 AS VARCHAR) || '&gt;</div><p>' || text ||
        |  '</p></body></html>' AS x FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(x,
        |  '(?is)<script(?:[^>"'']|"[^"]*"|''[^'']*'')*>.*?</script>',
        |  ' ', 'g') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x,
        |  '(?is)<style(?:[^>"'']|"[^"]*"|''[^'']*'')*>.*?</style>',
        |  ' ', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM s2),
        |s3c AS (SELECT doc_id, regexp_replace(x,
        |  '(?s)<!\[CDATA\[(.*?)\]\]>', ' \1 ', 'g') AS x FROM s3),
        |s4 AS (SELECT doc_id, regexp_replace(x,
        |  '<[/!?a-zA-Z][^>"'']*(?:"[^"]*"[^>"'']*|''[^'']*''[^>"'']*)*>',
        |  ' ', 'g') AS x FROM s3c),
        |s5 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(x,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS x FROM s4),
        |s6 AS (SELECT doc_id,
        |  trim(regexp_replace(x, '\s+', ' ', 'g')) AS stripped FROM s5)
        |SELECT doc_id, md5(stripped) AS stripped_fp,
        |  CAST(len(stripped) AS BIGINT) AS n_chars_stripped FROM s6""".stripMargin))),

    // real learned BPE (upgrades l1's BPE-ish regex count to an actual
    // trained tokenizer). Training runs entirely on the distinct-word
    // table; the oracle replays every iteration as chained MATERIALIZED
    // CTEs — the shared `replace('␁l␁␁r␁','␁lr␁')` contract (leftmost,
    // non-overlapping in Spark, DuckDB, and java.lang.String) makes the
    // two engines agree merge for merge, hash-exact. See llmops/Bpe.scala
    // for the 100 TB shape (one corpus pass, vocabulary-sized iterations).
    "l61_bpe_train" -> ((
      (s: SparkSession, dir: String) =>
        Bpe.mergesDf(s, Bpe.trainMerges(docs(s, dir), numMerges = BpeMerges)),
      Some(bpeTrainOracle(BpeMerges)))),

    // tokenizer application: per-document token counts under the l61
    // merge list. Spark dedups to distinct words, encodes each once
    // through the codegen'd graft_bpe expression, joins counts back;
    // the oracle re-applies the STAGED merges with a recursive CTE over
    // the same distinct-word set — byte-identical tokenization, so the
    // per-doc sums hash-match.
    "l62_bpe_tokens" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val merges = Bpe.trainMerges(d, numMerges = BpeMerges)
        stageForOracle(Bpe.mergesDf(s, merges), "l62_merges")
        Bpe.docTokenCounts(d, merges)
      },
      Some(bpeApplyOracle)))
  )

  /** DuckDB replay of the whole BPE training loop: w0 = sep-wrapped
    * char-split word-frequency table, then per iteration a pair-count
    * CTE, an argmax CTE (cnt DESC, l, r — the engine's tie-break), and a
    * replace CTE. MATERIALIZED is load-bearing: each w_i is referenced
    * twice, and without it DuckDB's CTE inlining re-evaluates the chain
    * exponentially. */
  private def bpeTrainOracle(n: Int): String = {
    val head =
      """w0 AS MATERIALIZED (
        |  SELECT chr(1) || chr(1) ||
        |         regexp_replace(w, '([\s\S])', '\1' || chr(1) || chr(1), 'g') AS s,
        |         count(*)::BIGINT AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' AND NOT contains(w, chr(1))
        |    AND NOT contains(w, chr(0))
        |  GROUP BY 1
        |)""".stripMargin
    val steps = (1 to n).flatMap { i =>
      Seq(
        s"""p$i AS MATERIALIZED (
           |  SELECT l, r, sum(freq)::BIGINT AS cnt FROM (
           |    SELECT a[i] AS l, a[i+1] AS r, freq FROM (
           |      SELECT a, freq, unnest(range(2, len(a) - 1)) AS i
           |      FROM (SELECT string_split(s, chr(1) || chr(1)) AS a, freq FROM w${i - 1})))
           |  GROUP BY l, r
           |)""".stripMargin,
        s"b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1)",
        s"""w$i AS MATERIALIZED (
           |  SELECT replace(w.s, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1),
           |                 chr(1) || b.l || b.r || chr(1)) AS s, w.freq
           |  FROM w${i - 1} w, b$i b
           |)""".stripMargin)
    }
    val fin = (1 to n).map(i =>
      s"SELECT $i AS merge_rank, l AS pair_left, r AS pair_right, cnt AS pair_freq FROM b$i")
      .mkString(" UNION ALL ")
    s"WITH $head,\n${steps.mkString(",\n")}\nSELECT * FROM ($fin) ORDER BY merge_rank"
  }

  /** DuckDB replay of tokenizer application: a recursive CTE walks the
    * staged merge table in rank order, applying the same replace() to
    * each distinct word's sep-wrapped form; token counts then join back
    * to the word-exploded corpus and aggregate per document. */
  private lazy val bpeApplyOracle: String =
    s"""WITH RECURSIVE m AS (
       |  SELECT merge_rank, pair_left, pair_right
       |  FROM read_parquet('$OracleStageRoot/l62_merges/*.parquet')),
       |words AS (
       |  SELECT DISTINCT w
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND NOT contains(w, chr(1))),
       |enc AS (
       |  SELECT w, chr(1) || chr(1) ||
       |           regexp_replace(w, '([\\s\\S])', '\\1' || chr(1) || chr(1), 'g') AS s,
       |         0 AS r FROM words
       |  UNION ALL
       |  SELECT e.w,
       |         replace(e.s,
       |                 chr(1) || m.pair_left || chr(1) || chr(1) || m.pair_right || chr(1),
       |                 chr(1) || m.pair_left || m.pair_right || chr(1)) AS s,
       |         e.r + 1
       |  FROM enc e JOIN m ON m.merge_rank = e.r + 1),
       |tok AS (
       |  SELECT w, len(string_split(s, chr(1) || chr(1))) - 2 AS ntok
       |  FROM enc WHERE r = (SELECT count(*) FROM m)),
       |docw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT d.doc_id, count(*)::BIGINT AS n_words,
       |       sum(t.ntok)::BIGINT AS n_bpe_tokens
       |FROM (SELECT doc_id, w FROM docw
       |      WHERE w <> '' AND NOT contains(w, chr(1))) d
       |JOIN tok t ON t.w = d.w
       |GROUP BY d.doc_id""".stripMargin

  private lazy val jaccardOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |s AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM d),
      |sh AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS g
      |  FROM s),
      |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
      |SELECT p.a, p.b,
      |  round(shared * 1.0 / (sa.sz + sb.sz - shared) + 1e-9, 4) AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON p.a = sa.doc_id
      |JOIN sizes sb ON p.b = sb.doc_id
      |WHERE shared * 1.0 / (sa.sz + sb.sz - shared) > 0.5""".stripMargin

  /** Shared CTE prefix replicating [[graft.llmops.Dedup.autoShingleCap]]
    * in SQL: shingle relation `sh` with the auto-derived df cap applied —
    * cap = greatest(10, least(p99.9 cap, pair-mass budget cap)), where
    * the p99.9 cap is the smallest df whose cumulative shingle count
    * crosses 99.9% (`1000*cum >= 999*total`, zero float interpolation)
    * and the budget cap is the largest df whose cumulative candidate-
    * pair mass `sum(c*df*df)` fits the 2e9 join-amplification budget —
    * both exact integer arithmetic, so both engines derive the same cap. */
  private lazy val autoCapShinglePrefix: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |s AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM d),
      |sh0 AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS g
      |  FROM s),
      |dfs AS (SELECT g, count(*) AS df FROM sh0 GROUP BY g),
      |hist AS (SELECT df, count(*) AS c FROM dfs GROUP BY df),
      |cum AS (SELECT df, sum(c) OVER (ORDER BY df) AS cumc,
      |  sum(c) OVER () AS tot,
      |  sum(c * df * df) OVER (ORDER BY df) AS pm FROM hist),
      |cap999 AS (SELECT greatest(10, coalesce(min(df), 10)) AS cap FROM cum
      |  WHERE 1000 * cumc >= 999 * tot),
      |capbud AS (SELECT greatest(10, coalesce(max(df), 10)) AS cap FROM cum
      |  WHERE pm <= 2000000000),
      |capv AS (SELECT greatest(10, least(cap999.cap, capbud.cap)) AS cap
      |  FROM cap999, capbud),
      |sh AS (SELECT sh0.doc_id, sh0.g FROM sh0 JOIN dfs USING (g), capv
      |  WHERE dfs.df <= capv.cap)""".stripMargin

  /** l6: the Jaccard relation over auto-capped shingle sets (the r12
    * default plan) — same tail as [[jaccardCappedOracle]] but the cap is
    * derived from the df distribution instead of the literal 10. */
  private lazy val jaccardAutoCappedOracle: String =
    s"""$autoCapShinglePrefix,
      |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
      |SELECT p.a, p.b,
      |  round(shared * 1.0 / (sa.sz + sb.sz - shared) + 1e-9, 4) AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON p.a = sa.doc_id
      |JOIN sizes sb ON p.b = sb.doc_id
      |WHERE shared * 1.0 / (sa.sz + sb.sz - shared) > 0.5""".stripMargin

  /** l18: same Jaccard relation but shingles capped at document frequency
    * 10 BEFORE the self-join and the size aggregate — sizes (and therefore
    * Jaccard values) are over the capped shingle sets on both engines. */
  private lazy val jaccardCappedOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |s AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM d),
      |sh0 AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS g
      |  FROM s),
      |rare AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) <= 10),
      |sh AS (SELECT sh0.doc_id, sh0.g FROM sh0 JOIN rare USING (g)),
      |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
      |SELECT p.a, p.b,
      |  round(shared * 1.0 / (sa.sz + sb.sz - shared) + 1e-9, 4) AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON p.a = sa.doc_id
      |JOIN sizes sb ON p.b = sb.doc_id
      |WHERE shared * 1.0 / (sa.sz + sb.sz - shared) > 0.5""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (n, (fn, _)) => n -> fn }

  def oracleSql: Map[String, String] =
    entries.collect { case (n, (_, Some(sql))) => n -> sql }
}
