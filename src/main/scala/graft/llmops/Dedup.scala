package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.11 ★): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash.
  *
  * Scale design: exact dedup is a single hash-aggregate; the near-dup
  * family never materializes the O(N²) pair space — candidates come from
  * equality joins on shingles (exact), LSH band buckets (MinHash), or
  * simhash band buckets (SimHash), all of which shuffle on bounded keys.
  */
object Dedup {

  /** Table properties stamping the MinHash parameters a committed band
    * index ([[sigBandKeys]]) was built with. The bkey is a hash of
    * (band, signature slice): an index built under DIFFERENT
    * numHashes/bands produces bkeys that simply NEVER match a batch's —
    * zero candidates, every duplicate silently re-admitted — so
    * consumers must validate these against their call parameters before
    * trusting the index (fail loudly / fall back, never drift). */
  val NumHashesProp = "graft.dedup.num-hashes"
  val BandsProp = "graft.dedup.bands"

  /** One band-index row is (doc_id, bkey) — two longs. */
  val BandIndexRowBytes = 16L

  /** Target per-bucket share of a committed band index: ~256 MB keeps a
    * bucket's slice at roughly two standard 128 MB scan splits — small
    * enough that the map-only SPJ side never concentrates on a handful
    * of oversized tasks, large enough that file counts stay sane. */
  val BandBucketTargetBytes: Long = 256L << 20

  /** Past 4× the target the index has OUTGROWN its creation-time
    * bucket[N] (bucket counts are forever for a committed layout):
    * ingest keeps working — correctness never depends on N — but the
    * per-batch join's corpus-side tasks grow linearly from here, so the
    * loader warns and the owner should restage: a one-off replace
    * commit of the bands table under `bucket[defaultBandBuckets(...)]`
    * (the [[graft.streaming.StreamingLoader.pruneOrphanSignatures]]
    * rewrite shape with a bigger N), O(index bytes) ≈ 1% of corpus. */
  val BandBucketWarnBytes: Long = BandBucketTargetBytes * 4

  /** Creation-time default for the band index's `bucket[N]`, derived
    * from the EXPECTED corpus size instead of a constant: N = the
    * power of two that puts each bucket near [[BandBucketTargetBytes]]
    * at `expectedCorpusDocs` survivors (powers of two make a later
    * restage an exact occupancy halving), clamped to [16, 4096] —
    * 16 keeps small corpora trivially parallel, 4096 × 256 MB ≈ 1 TB of
    * index ≈ 100 TB of corpus at the 1% index-to-corpus ratio. */
  def defaultBandBuckets(expectedCorpusDocs: Long, bands: Int = 32): Int = {
    require(expectedCorpusDocs >= 0, "expectedCorpusDocs must be >= 0")
    val bytes = expectedCorpusDocs * bands * BandIndexRowBytes
    val ideal = math.max(1L,
      (bytes + BandBucketTargetBytes - 1) / BandBucketTargetBytes)
    val h = java.lang.Long.highestOneBit(ideal)
    val pow2 = if (h == ideal) ideal else h * 2
    math.min(4096L, math.max(16L, pow2)).toInt
  }

  /** Exact dedup by content fingerprint: keeps the smallest doc_id per
    * fingerprint group. One hash-aggregate — the distributed equivalent of
    * `dropDuplicates`, but with an explicit deterministic survivor. */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))

  /** Incremental dedup — the shape a CONTINUOUS ingestion pipeline needs:
    * drop incoming documents whose fingerprint already exists in the
    * committed corpus (one anti-join on the fingerprint, shuffling only
    * the incoming batch plus the corpus fingerprint column), then
    * exact-dedup the survivors among themselves (min-id survivor).
    * `corpusFp` is typically a fingerprint column read straight from a
    * committed table — at scale that read prunes to the `fp` column via
    * parquet column pruning. */
  def incrementalDedup(incoming: DataFrame, corpusFp: DataFrame,
      textCol: String = "text"): DataFrame =
    incoming.select(col("doc_id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .join(corpusFp.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))

  /** Per-document MinHash signature as ONE array column — the committable
    * form of [[minHashLshPairs]]'s signature matrix. A corpus that
    * maintains this table (512 B/doc at 64 hashes — ~0.5% of corpus
    * bytes at typical web-document sizes, ~0.5 TB per billion docs)
    * can near-dedup every future batch against itself WITHOUT rescanning
    * corpus text: see [[incrementalNearDedup]]. */
  def minHashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      textCol: String = "text"): DataFrame = {
    val sh = hashedShingles(docs, n, textCol)
    val minAggs = (0 until numHashes).map { i =>
      min(xxhash64(col("g"), lit(i))).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH band buckets from committed signatures. The bucket is the band's
    * raw VALUE SLICE (array of rowsPerBand longs), not an engine hash of
    * it — portable to any SQL engine verifying the join, and equality on
    * a 2-long array shuffles 16 bytes/row more than a hashed bucket
    * would, a rounding error next to the signature itself. */
  private def sigBandBuckets(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    // explode carries sig alongside — re-joining the signature table to
    // itself on doc_id here would add a corpus-scale shuffle per call
    sigs.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        slice(col("sig"), col("band") * rows + 1, lit(rows)).as("bucket"))
  }

  /** Committable LSH band index of a signature table: one (doc_id, bkey)
    * row per band, `bkey = xxhash64(band, bucket-slice)` — a single
    * 64-bit scalar per band instead of the (band, value-slice) pair.
    * The scalar key is the piece that makes the incremental path
    * shuffle-free on the corpus side: a table of this shape committed
    * with a `bucket[N]` partition hint on `bkey` SPJ-resolves the
    * candidate join ([[incrementalNearDedup]]'s `committedBandKeys`),
    * so the committed index is scanned map-only in its existing layout
    * and ONLY the incoming batch shuffles — the per-batch operator a
    * 100-TB ingest pipeline runs forever. Size: ~16 B/row × bands
    * ≈ the signature table itself (512 B/doc at 64 hashes). */
  def sigBandKeys(sigs: DataFrame, numHashes: Int = 64,
      bands: Int = 32): DataFrame =
    sigBandBuckets(sigs, numHashes, bands)
      .select(col("doc_id"),
        xxhash64(col("band"), col("bucket")).as("bkey"))

  /** Near-dup dedup of an incoming batch against a COMMITTED corpus — the
    * incremental companion to [[incrementalDedup]] (which catches only
    * exact fingerprint matches). Real pipelines ingest continuously and
    * cannot re-run the corpus-wide pair join per batch; instead the
    * corpus maintains a committed [[minHashSignatures]] table and each
    * batch is deduped against it in O(batch + touched buckets):
    *
    *  1. candidates: band-bucket equality join between the batch's
    *     signatures and the committed table — only documents sharing a
    *     full band ever meet (the standard LSH guarantee: recall
    *     ≈ 1-(1-J^r)^b, >1-1e-20 at J≥0.9 with 32×2 bands);
    *  2. verification: signature-component agreement (the unbiased
    *     MinHash estimator of J, matches/numHashes) — corpus TEXT is
    *     never read, which is the property that makes the scheme
    *     incremental at 100 TB. The corpus side ships 512 B/doc of
    *     signature for touched buckets only; committing the signature
    *     table bucketed by (band, bucket) makes the join shuffle-free
    *     on the corpus side.
    *
    * Returns one row per incoming document: its best corpus match at
    * `simThreshold` (max estimate, min corpus id on ties — deterministic)
    * or NULL/is_new=true when none. Batch-internal near-dups are the
    * in-batch pair job's business ([[minHashLshPairs]] on the batch). */
  def incrementalNearDedup(incomingSigs: DataFrame, committedSigs: DataFrame,
      numHashes: Int = 64, bands: Int = 32,
      simThreshold: Double = 0.6,
      committedBandKeys: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // With a committed [[sigBandKeys]] index the candidate join keys on
    // the single bkey scalar, so a bucket[N](bkey)-partitioned index
    // SPJ-resolves (corpus side map-only). Joining on the 64-bit hash
    // ALONE is sound: candidates are only a superset generator — a hash
    // collision can add a candidate pair, but a pair reaches the output
    // only if its exact signature-agreement estimate clears the
    // threshold, so the result is candidate-superset-invariant (and
    // identical to the (band, bucket) join below).
    val cand = (committedBandKeys match {
      case Some(idx) =>
        sigBandKeys(incomingSigs, numHashes, bands).as("i")
          .join(idx.as("c"), Seq("bkey"))
      case None =>
        sigBandBuckets(incomingSigs, numHashes, bands).as("i")
          .join(sigBandBuckets(committedSigs, numHashes, bands).as("c"),
            Seq("band", "bucket"))
    }).select(col("i.doc_id").as("inc_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val matches = aggregate(
      zip_with(col("a.sig"), col("b.sig"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val best = cand
      .join(incomingSigs.as("a"), col("a.doc_id") === col("inc_id"))
      .join(committedSigs.as("b"), col("b.doc_id") === col("corpus_id"))
      .select(col("inc_id"), col("corpus_id"),
        (matches.cast("double") / numHashes).as("est"))
      .filter(col("est") >= simThreshold)
      .groupBy("inc_id")
      .agg(max(struct(col("est"), (-col("corpus_id")).as("nid"))).as("bst"))
      .select(col("inc_id"), (-col("bst.nid")).as("match_id"),
        col("bst.est").as("est"))
    incomingSigs.select(col("doc_id"))
      .join(best, col("doc_id") === col("inc_id"), "left")
      .select(col("doc_id"), col("match_id"),
        round(col("est") + lit(1e-9), 4).as("est_jaccard"),
        col("match_id").isNull.as("is_new"))
  }

  /** Span-level boilerplate removal (the CCNet/RefinedWeb paragraph-dedup
    * idea, adapted to word spans): documents are segmented into
    * consecutive `spanWords`-word spans, span frequency is counted over
    * the WHOLE corpus in one hash aggregate, and spans occurring more
    * than `maxDf` times are dropped from every document — text that
    * repeats verbatim across documents (headers, licence blocks,
    * navigation chrome) is exactly what this removes while unique prose
    * survives. Returns the audit row per document (span counts + a
    * fingerprint of the cleaned text): at 100 TB the cleaned corpus is
    * its own write job; the decision table is this. Cost shape: one
    * explode + two hash aggregations + one span-keyed join — no
    * quadratic stage anywhere. */
  def spanDedup(docs: DataFrame, spanWords: Int = 8, maxDf: Long = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    val nSpans = ceil(size(words) / lit(spanWords.toDouble)).cast("long")
    val spansArr = transform(sequence(lit(0), (nSpans - 1).cast("int")),
      i => array_join(slice(words, i * spanWords + 1, lit(spanWords)), " "))
    val spans = docs.select(col(idCol),
      posexplode(spansArr).as(Seq("pos", "span")))
    val freq = spans.groupBy("span").agg(count(lit(1)).as("span_df"))
    val kept = spans.join(freq.filter(col("span_df") <= maxDf), "span")
    val cleaned = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_kept"),
      // order-restoring fingerprint: sort (pos, span) structs, strip pos
      md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("span")))),
        s => s.getField("span")), " ")).as("clean_fp"))
    docs.select(col(idCol), nSpans.as("n_spans"))
      .join(cleaned, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
  }

  /** First-occurrence paragraph dedup (the C4 move: discard all but ONE
    * occurrence of any repeated span, where [[spanDedup]] instead drops
    * every copy of over-frequent spans — complementary semantics: this
    * RETAINS a canonical copy of repeated content, that removes
    * boilerplate outright). Documents are segmented into consecutive
    * `paraWords`-word paragraphs; a paragraph survives iff it is the
    * globally FIRST occurrence of its exact text, "first" meaning the
    * smallest (doc_id, position) — a total order, so the survivor set is
    * deterministic and within-doc repeats dedup too. Returns one audit
    * row per document: paragraph counts plus the reconstructed
    * (position-ordered) deduplicated text.
    *
    * Scale shape: one map-side explode, then an aggregation + join-back
    * + reassembly — deliberately NOT a window: real corpora have
    * power-law paragraphs (license blocks, navigation chrome repeated
    * 10⁹ times), and a window partitioned by paragraph text funnels
    * every copy of a hot paragraph through ONE task with no mitigation.
    * The min-(doc_id,pos) winner per paragraph instead computes through
    * a hash aggregate whose map-side partial combine bounds any hot key
    * at one row per input partition, and the join back on the paragraph
    * key is AQE-skew-splittable. No driver state anywhere. */
  def paragraphDedup(docs: DataFrame, paraWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    val nParas = ceil(size(words) / lit(paraWords.toDouble)).cast("long")
    val parasArr = transform(sequence(lit(0), (nParas - 1).cast("int")),
      i => array_join(slice(words, i * paraWords + 1, lit(paraWords)), " "))
    val paras = docs.select(col(idCol),
      posexplode(parasArr).as(Seq("pos", "para")))
    val winners = paras.groupBy(col("para"))
      .agg(min(struct(col(idCol), col("pos"))).as("first_at"))
    paras.join(winners, "para")
      .withColumn("keep",
        struct(col(idCol), col("pos")) === col("first_at"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the null (dropped) entries; array_sort on
        // (pos, para) structs restores document order
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("para"))))),
          s => s.getField("para")), " ").as("dedup_text"))
  }

  /** Overlapping-window exact-substring dedup (the ExactSubstr semantics
    * of "Deduplicating Training Data Makes Language Models Better", Lee
    * et al. 2022, adapted to word windows): every occurrence of any
    * `windowWords`-word span that is NOT the globally first occurrence
    * of that exact span marks its covered word positions for removal,
    * and a word survives iff NO duplicate window covers it. The third
    * member of the span-dedup family, with genuinely different
    * semantics: [[spanDedup]] segments into DISJOINT spans and drops
    * over-frequent ones everywhere; [[paragraphDedup]] segments
    * disjointly and keeps a canonical first copy; here windows OVERLAP
    * at every start position, so a duplicated run of ANY length >=
    * windowWords is excised wholesale from everywhere but its first
    * occurrence — regardless of alignment — while repeats shorter than
    * the window survive untouched. "First" = smallest (doc_id, pos): a
    * total order, so survivors are deterministic and within-doc repeats
    * dedup too. Returns one audit row per document: word counts plus
    * the reconstructed (position-ordered) surviving text.
    *
    * Scale shape: winner selection is the same skew-safe hash aggregate
    * as [[paragraphDedup]] (map-side partial min bounds hot boilerplate
    * windows at one row per input partition — never a window function
    * keyed on corpus text); only windows with more than one occurrence
    * re-join (the duplicate tail, not the corpus), each expanding to at
    * most `windowWords` covered positions before a distinct; removal is
    * one anti-join on (doc_id, position). `hashKeys = true` is the
    * corpus-scale lever: window keys become 8-byte xxhash64 longs
    * instead of ~8-word strings, shrinking the winner aggregate and the
    * join-back shuffle several-fold at a 2⁻⁶⁴ per-pair collision rate
    * (the same trade as [[shingles]]' hashed twin); it stays off in the
    * oracle entry only because DuckDB cannot replay the hash. */
  def windowDedup(docs: DataFrame, windowWords: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      hashKeys: Boolean = false): DataFrame = {
    val k = windowWords
    val base = docs.select(col(idCol), split(col(textCol), " ").as("ws"))
    val wordRows = base.select(col(idCol),
      posexplode(col("ws")).as(Seq("wpos", "word")))
    val keyOf: Column => Column =
      if (hashKeys) w => xxhash64(w) else identity
    val wins = base
      .filter(size(col("ws")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), (size(col("ws")) - k).cast("int")),
          i => keyOf(array_join(slice(col("ws"), i + 1, lit(k)), " "))))
        .as(Seq("pos", "win")))
    val firstAt = wins.groupBy(col("win"))
      .agg(min(struct(col(idCol), col("pos"))).as("first_at"),
        count(lit(1)).as("occ"))
    val dups = wins.join(firstAt.filter(col("occ") > 1), "win")
      .filter(struct(col(idCol), col("pos")) =!= col("first_at"))
    val covered = dups.select(col(idCol),
        explode(sequence(col("pos"), col("pos") + k - 1)).as("wpos"))
      .distinct()
    val kept = wordRows.join(covered, Seq(idCol, "wpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("wpos"), col("word")))),
          s => s.getField("word")), " ").as("clean_text"))
    base.select(col(idCol), size(col("ws")).cast("long").as("n_words"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Cross-source overlap matrix: for every pair of sources, the number
    * of distinct `spanWords`-token spans they share — the dataset-
    * curation signal behind "these two crawls overlap, dedup before
    * mixing" (and the cheap pre-check before pairwise near-dup runs).
    *
    * Scale shape: spans are DISTINCT per source before the equality
    * self-join on the span key, so the join input is bounded by distinct
    * span volume (shuffle-partitioned on span, never all-pairs of docs);
    * the pair aggregation output is at most |sources|² rows — metadata-
    * sized. Same span definition as [[spanDedup]]. */
  def sourceOverlap(docs: DataFrame, spanWords: Int = 8,
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    val words = split(col(textCol), " ")
    val nSpans = ceil(size(words) / lit(spanWords.toDouble)).cast("long")
    val spansArr = transform(sequence(lit(0), (nSpans - 1).cast("int")),
      i => array_join(slice(words, i * spanWords + 1, lit(spanWords)), " "))
    val spans = docs.select(col(sourceCol).as("source"),
        explode(spansArr).as("span")).distinct()
    spans.as("a").join(spans.as("b"),
        col("a.span") === col("b.span") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  /** Distinct word n-gram shingles per document: (doc_id, g). */
  def shingles(docs: DataFrame, n: Int = 3, textCol: String = "text"): DataFrame = {
    val w = split(col(textCol), " ")
    docs
      .filter(size(split(col(textCol), " ")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws("_", slice(w, i, lit(n))))).as("g"))
      .distinct()
  }

  /** Shingles with the string replaced by its 64-bit hash — the join keys
    * of every pairwise stage. Joining/aggregating on 8-byte longs is
    * substantially cheaper than on ~25-char strings; the 2^-64 collision
    * rate is far below the engine's verification tolerances. */
  private def hashedShingles(docs: DataFrame, n: Int, textCol: String): DataFrame = {
    val w = split(col(textCol), " ")
    docs
      .filter(size(split(col(textCol), " ")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(w) - (n - 1)),
          i => xxhash64(concat_ws("_", slice(w, i, lit(n)))))).as("g"))
      .distinct()
  }

  /** Floor for the auto-derived shingle document-frequency cap: the cap
    * never drops below this, so ordinary near-dup pairs (whose shared
    * shingles have df of a few) always survive candidate generation. */
  val ShingleCapFloor = 10

  /** Join-amplification budget for the auto-derived cap: the candidate
    * pair count of the shingle self-join is Σ df² over kept shingles, so
    * the cap is additionally bounded by the largest value whose
    * cumulative pair mass fits this budget. 2e9 pairs ≈ 32 GB of
    * 16-byte shuffled pair rows — a single fat node's spill room; raise
    * it on a cluster. Without this bound a TEMPLATE-SATURATED corpus
    * (measured: the sf100 documents table has 49k distinct shingles for
    * 5M docs — no rare tail at all, every shingle df in the thousands)
    * drives the p99.9 rule to cap≈7000 and 2.1e12 candidate pairs:
    * killed a 40 GB-spill single node. Such a distribution means
    * exact shingle-pair dedup is the wrong tool (MinHash-LSH or the
    * committed-signature incremental path scale there); the budget makes
    * the operator degrade to bounded compute instead of dying. */
  val DefaultShinglePairMassBudget: Long = 2000000000L

  /** Auto-derive a shingle df cap from the corpus df distribution:
    * `max(floor, min(p99.9, budgetCap))` where
    *
    *  - p99.9 = the integer-exact 99.9th percentile of per-shingle
    *    document frequencies (smallest df whose cumulative shingle count
    *    crosses 99.9% — computed as `1000*cum >= 999*total`, no float
    *    interpolation, so a SQL oracle replicates it bit-for-bit);
    *  - budgetCap = the largest df whose CUMULATIVE candidate-pair mass
    *    `Σ c(df)·df²` stays within `maxPairMass` (same histogram, same
    *    exact integer arithmetic).
    *
    * Under power-law shingle frequencies p99.9 binds and drops only the
    * boilerplate head; under degenerate template-saturated corpora the
    * budget binds and bounds the join's amplification instead of letting
    * it go quadratic. Cost shape: one count aggregate over shingles,
    * then windowed cumulatives over the df-value HISTOGRAM (distinct df
    * values — O(√ total shingle instances), a single-task window at any
    * corpus size) — the driver receives ONE row, the cap. The
    * arithmetic is integer-exact over UNCLAMPED dfs, the same
    * formulation the SQL oracle runs, so both engines derive the
    * identical cap on any corpus (an earlier cut clamped df at 2^20
    * before the histogram, which silently diverged from the oracle —
    * and under-counted pair mass — once any shingle's df crossed 2^20;
    * pair mass accumulates in decimal(38,0), the overflow discipline
    * DuckDB's HUGEINT sum gives the oracle). */
  def autoShingleCap(dfs: DataFrame, floorCap: Int = ShingleCapFloor,
      maxPairMass: Long = DefaultShinglePairMassBudget): Int = {
    import org.apache.spark.sql.expressions.Window
    val hist = dfs.groupBy("df").agg(count(lit(1)).as("c"))
    val byDf = Window.orderBy("df")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val cum = hist.select(col("df"),
      sum("c").over(byDf).as("cumc"),
      sum("c").over(whole).as("tot"),
      sum((col("c").cast("decimal(38,0)") * col("df") * col("df")))
        .over(byDf).as("pm"))
    val row = cum.select(
      min(when(col("cumc") * 1000L >= col("tot") * 999L, col("df"))).as("p999"),
      max(when(col("pm") <= lit(maxPairMass).cast("decimal(38,0)"), col("df")))
        .as("bud"))
      .collect()(0) // ONE row: the two candidate caps
    val p999 = if (row.isNullAt(0)) floorCap.toLong
      else math.max(floorCap.toLong, row.getLong(0))
    val bud = if (row.isNullAt(1)) floorCap.toLong
      else math.max(floorCap.toLong, row.getLong(1))
    math.max(floorCap.toLong, math.min(p999, bud)).toInt
  }

  /** Shingle relation with the df-cap discipline applied: explicit cap
    * when `maxShingleFreq` is given, the uncapped mathematical relation
    * when `exact = true`, and the [[autoShingleCap]]-derived cap by
    * DEFAULT. The default changed in r12: the uncapped self-join is
    * measured-infeasible at sf10 (killed at 32 GB shuffle spill) and
    * asymptotically impossible at 100 TB under power-law shingles (one
    * df=10⁸ shingle ⇒ 5·10¹⁵ candidate pairs), so the scale-safe capped
    * plan must be what a caller gets without opting in — mirroring the
    * cosine near-dup precedent (r3) where `exact = true` is the explicit
    * small-corpus escape hatch. */
  private def cappedShingles(docs: DataFrame, n: Int, textCol: String,
      maxShingleFreq: Option[Int], exact: Boolean): DataFrame = {
    require(!(exact && maxShingleFreq.isDefined),
      "exact=true contradicts an explicit maxShingleFreq")
    if (exact) hashedShingles(docs, n, textCol)
    else {
      // cache the exploded shingles so the document-frequency pass and
      // the stop-shingle semi-join both read one materialization (the
      // cap is a count aggregate, never an unbounded per-shingle
      // collect — a million-document hot shingle costs one counter,
      // not one list)
      val sh0 = hashedShingles(docs, n, textCol).cache()
      val dfs = sh0.groupBy("g").agg(count(lit(1)).as("df"))
      val cap = maxShingleFreq.getOrElse(autoShingleCap(dfs))
      sh0.join(dfs.filter(col("df") <= cap).select("g"), "g")
    }
  }

  /** Exact n-gram Jaccard near-dup pairs above `threshold`.
    * Candidates come from the shingle equality self-join (only documents
    * sharing at least one shingle ever meet), then J = |∩| / |∪|.
    * Shingles above a document-frequency cap are dropped BEFORE the
    * join (explicit `maxShingleFreq`, or the [[autoShingleCap]]-derived
    * p99.9 cap by default); pass `exact = true` for the uncapped
    * mathematical Jaccard relation — viable only on small corpora.
    *
    * Measured negative result (r8, sf1 = 50k docs): a PPJoin-style
    * prefix-filter rewrite (rarest-first global order, prefix-only
    * candidate join, per-candidate `array_intersect` verification) ran
    * 49-62 s vs 27.6 s for this counting formulation. At t=0.5 the
    * prefix is ~half of every shingle set (weak filtering), and
    * shipping both full shingle arrays per candidate through the
    * verification shuffle costs more than the narrower candidate join
    * saves. The aggregation here keeps every shuffled row at 24 bytes;
    * the scale levers for hot corpora remain `maxShingleFreq` (l18) and
    * MinHash-LSH (l7).
    *
    * Second measured negative result (r8, same corpus): replacing the
    * post-explode `.distinct()` with per-row `array_distinct` (plus an
    * inline set-size column enabling a J ≤ min/max size-ratio join
    * prefilter) was ~0.5-7 s faster WARM but 262 s-in-one-stage cold —
    * without the distinct's shuffle barrier, the cached shingle relation
    * (now 3 columns, deserialized) evicts under the sf1 join's memory
    * pressure and every recompute re-derives shingles from raw text
    * instead of replaying a 24-byte-row shuffle. The distinct() below is
    * load-bearing as a cheap recompute barrier, not just as set
    * semantics. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      textCol: String = "text", maxShingleFreq: Option[Int] = None,
      exact: Boolean = false): DataFrame = {
    val sh = cappedShingles(docs, n, textCol, maxShingleFreq, exact).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = sh.as("x").join(sh.as("y"), col("x.g") === col("y.g") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sza") + col("szb") - col("shared")))
      .filter(col("jaccard") > threshold)
      .select(col("a"), col("b"), round(col("jaccard") + 1e-9, 4).as("jaccard"))
  }

  /** Overlap-coefficient (containment) near-dup pairs: |A∩B| / min(|A|,|B|)
    * over n-gram shingle sets — the MassiveText-style complement to
    * [[ngramJaccardPairs]]. Jaccard dilutes when one document nearly
    * CONTAINS another (page = article + boilerplate wrapper: the union
    * grows with the wrapper, J drops below threshold while the smaller
    * doc is wholly duplicated); the overlap coefficient normalizes by
    * the smaller set, so near-supersets surface at their true
    * containment. Same candidate generation as Jaccard (shingle
    * equality self-join — only documents sharing a shingle ever meet;
    * `maxShingleFreq` caps hot boilerplate shingles), so the cost shape
    * and the 100-TB answer are identical to l6/l18's. */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.9,
      textCol: String = "text", maxShingleFreq: Option[Int] = None,
      exact: Boolean = false): DataFrame = {
    val sh = cappedShingles(docs, n, textCol, maxShingleFreq, exact).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = sh.as("x").join(sh.as("y"), col("x.g") === col("y.g") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("containment",
        col("shared").cast("double") / least(col("sza"), col("szb")))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"),
        round(col("containment") + 1e-9, 4).as("containment"))
  }

  /** Connected components over the near-dup pair graph — the step that
    * turns pairwise matches into dedup CLUSTERS (the canonical survivor
    * of a cluster is its min doc id). Deterministic; the DuckDB oracle
    * computes the same fixpoint with a recursive CTE.
    *
    * Hybrid execution, measured: the pair graph is tiny relative to the
    * corpus (near-dup pairs, not documents), so up to
    * `driverUnionFindMax` edges a driver-side union-find with path
    * compression resolves components in milliseconds — the distributed
    * min-label-propagation loop costs seconds of job latency per round
    * regardless of data size (13.6 s vs <1 s at sf0.1). Past the
    * threshold (billions-of-docs dedup where pairs themselves are
    * data-scale), the iterative formulation takes over: label(v) ←
    * min(label, neighbors' labels), converging in O(cluster diameter)
    * rounds of one shuffle join + aggregate, with pointer-halving
    * (label(v) also absorbs label(label(v))) so rounds grow with
    * log(diameter), not diameter — long duplication chains (common in
    * scraped corpora) stay cheap. The loop runs TO CONVERGENCE and
    * throws if `maxIters` is hit: silently returning unconverged labels
    * would split one cluster into several with no signal. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 50,
      driverUnionFindMax: Long = 4000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val fwd = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .distinct().cache()
    val nEdges = fwd.count()
    if (nEdges <= driverUnionFindMax) {
      val edges = fwd.as[(Long, Long)].collect()
      fwd.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent.getOrElse(x, x)
        var y = x0 // path compression
        while (parent.getOrElse(y, y) != y) {
          val next = parent(y); parent(y) = x; y = next
        }
        x
      }
      // union by min so every root IS its component's min id
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val ids = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      ids.toSeq.sorted.map(id => (id, find(id)))
        .toDF("doc_id", "cluster_id")
    } else {
      val edges = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
        .distinct().cache()
      // each round is built ON the previous round's result: without
      // lineage truncation the logical plan doubles per iteration (the
      // pointer-halving self-join squares it) and the driver OOMs just
      // RENDERING the plan — localCheckpoint keeps every round's plan flat
      var labels = edges.select(col("a").as("id")).distinct()
        .withColumn("cluster_id", col("id")).localCheckpoint(true)
      var converged = false
      var i = 0
      while (!converged) {
        if (i >= maxIters)
          throw new IllegalStateException(
            s"nearDupClusters label propagation did not converge in $maxIters " +
              "rounds — with pointer-halving this needs ~log2(cluster diameter) " +
              "rounds, so hitting the cap indicates a pathological graph; " +
              "raise maxIters rather than consuming split clusters")
        val nbr = edges
          .join(labels.select(col("id").as("b"), col("cluster_id").as("nl")), "b")
          .groupBy(col("a").as("id")).agg(min(col("nl")).as("nbr_min"))
        val viaNbr = labels.join(nbr, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster_id"),
              coalesce(col("nbr_min"), col("cluster_id"))).as("c1"))
        // pointer halving: also absorb the label OF the label (labels are
        // node ids, so this is a self-join) — turns O(diameter) rounds
        // into O(log diameter)
        val next = viaNbr
          .join(labels.select(col("id").as("c1"), col("cluster_id").as("ll")),
            Seq("c1"), "left")
          .select(col("id"),
            least(col("c1"), coalesce(col("ll"), col("c1"))).as("cluster_id"))
          .localCheckpoint(true)
        converged = next
          .join(labels.withColumnRenamed("cluster_id", "prev"), "id")
          .filter(col("cluster_id") =!= col("prev")).isEmpty
        labels = next
        i += 1
      }
      edges.unpersist()
      fwd.unpersist()
      labels.select(col("id").as("doc_id"), col("cluster_id"))
    }
  }

  // Permutation p is realized as xxhash64 salted with p (overflow-free
  // under ANSI mode, and deterministic across engines/runs).

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    *
    * shingle → xxhash64 → per-permutation min (one hash-aggregate with
    * `numHashes` min() columns) → band signatures → equality join on
    * (band, bucket) yields candidates → exact-Jaccard verification of the
    * candidate set only. With 32 bands × 2 rows, recall at J≥0.9 is
    * 1-(1-0.81)^32 ≈ 1-2.6e-23 — the published MinHash-LSH S-curve.
    */
  /** Scale shape (measured at 500k docs, shared-vocab worst case): the
    * default banding (rows-per-band 2) keeps recall at J>0.5 essentially
    * certain (a true pair collides in ~8 of 32 bands), at the cost of
    * permissive candidate generation — band-bucket occupancy grows with
    * corpus size under heavy shingle sharing, and the candidate join
    * spills tens of GB at sf10 though it completes. The knobs are the
    * standard LSH levers: more rows per band (fewer, cleaner candidates,
    * probabilistic recall) or shingle-frequency caps upstream
    * ([[ngramJaccardPairs]]'s `maxShingleFreq`). For exact-recall dedup
    * at corpus scale, prefer the capped exact-Jaccard twin (l18), whose
    * per-shingle join fan-out is bounded at cap^2 by construction.
    *
    * Caching contract: the returned DataFrame reads the cached `sh`,
    * `candidates` and `candSh` intermediates, which stay cached after it
    * is evaluated. The caller releases them when done with the result
    * (`spark.catalog.clearCache()`, or unpersist). */
  def minHashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 32, threshold: Double = 0.5,
      textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // shingles arrive pre-hashed to longs; the permutation family re-hashes
    // the 8-byte value with a salt — 64 long-hashes per shingle, no string
    // work past the initial explode
    val sh = hashedShingles(docs, n, textCol).cache()
    val minAggs = (0 until numHashes).map { i =>
      min(xxhash64(col("g"), lit(i))).as(s"m$i")
    }
    val sigs = sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)

    val bandCols = (0 until bands).map { bIdx =>
      val rows = (0 until rowsPerBand).map(r => col(s"m${bIdx * rowsPerBand + r}"))
      struct(lit(bIdx).as("band"), xxhash64(rows: _*).as("bucket"))
    }
    val buckets = sigs.select(col("doc_id"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct().cache()

    // verify candidates with exact Jaccard — but only over candidate
    // pairs: expand each candidate's left-side shingles, then hash-join on
    // (b, g). Unlike the full g-equality self-join, this never explodes on
    // common shingles; cost is |candidates| x shingles-per-doc.
    // r15: the verify joins only ever consult documents that appear in a
    // candidate pair, but `sh` carried EVERY document's shingles into
    // both joins. Semi-join sh down to candidate docs first: the
    // candidate-id set is near-dup-pair-sized (tiny vs corpus), so AQE
    // plans the semi-join as a broadcast and non-candidate shingles drop
    // MAP-SIDE before the (b, g) shuffle — inner-join semantics make the
    // restriction lossless (sizes of candidate docs are computed over
    // their FULL shingle sets either way).
    val candIds = candidates.select(col("a").as("doc_id"))
      .union(candidates.select(col("b").as("doc_id"))).distinct()
    val candSh = sh.join(candIds, Seq("doc_id"), "left_semi").cache()
    val sizes = candSh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = candidates
      .join(candSh.withColumnRenamed("doc_id", "a"), "a")
      .join(candSh.withColumnRenamed("doc_id", "b"), Seq("b", "g"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sza") + col("szb") - col("shared")))
      .filter(col("jaccard") > threshold)
      .select(col("a"), col("b"), round(col("jaccard") + 1e-9, 4).as("jaccard"))
  }

  /** 64-bit SimHash per document: sign-sum of token-hash bits. Computed as
    * 64 conditional sums in one aggregate (no UDF, no shuffle beyond the
    * per-doc groupBy). */
  def simHash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(1L << b) =!= 0L, 1).otherwise(-1)).as(s"s$b")
    }
    val sums = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce[Column](_.bitwiseOR(_))
    sums.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Candidates come from 4×16-bit band buckets (a pair within distance 3
    * must agree on at least one band by pigeonhole), verified with exact
    * popcount. The returned DataFrame reads the cached `sim` signatures,
    * which stay cached; the caller releases them when done with the
    * result (`spark.catalog.clearCache()`, or unpersist). */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text"): DataFrame = {
    val sim = simHash(docs, textCol).cache()
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("bucket"))
    }
    val buckets = sim.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
