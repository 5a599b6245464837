package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateMutableProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, MinHash, MinHashSignature, ShingleHashes}
import graft.llmops.Dedup

/** The relational MinHash formulation the per-document kernels replaced:
  * every shingle exploded to a row, `distinct`, and a `numHashes`-column
  * `min` aggregate per document. Kept as the bit-identity reference. */
object MinHashReference {

  def hashedShingles(docs: DataFrame, n: Int): DataFrame = {
    val w = split(col("text"), " ")
    docs
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(w) - (n - 1)),
          i => xxhash64(concat_ws("_", slice(w, i, lit(n)))))).as("g"))
      .distinct()
  }

  def signatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame = {
    val minAggs = (0 until numHashes).map { i =>
      min(xxhash64(col("g"), lit(i))).as(s"m$i")
    }
    hashedShingles(docs, n).groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }
}

/** Pins `graft_shingle_hashes`/`graft_minhash` bit for bit to
  * [[MinHashReference]] on seeded documents that hit every tokenization
  * edge, and pins the map-only, cache-free shape of the MinHash paths. */
class MinHashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Seeded documents: null text, empty text, leading/trailing/doubled
    * spaces (empty tokens), fewer than 3 words, non-ASCII words, words
    * holding the `_` join character, repeated shingles, near-copies. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(20261019L)
    val vocab = Array("the", "graft", "naïve", "café", "日本語", "données",
      "😀", "a_b", "a", "b", "über", "Ωmega", "") ++ (0 until 60).map(i => s"w$i")
    def words(k: Int): Seq[String] = Seq.fill(k)(vocab(rnd.nextInt(vocab.length)))
    val texts: Seq[String] = (0 until 400).map { i =>
      i % 10 match {
        case 0 => null
        case 1 => words(rnd.nextInt(3)).mkString(" ") // 0-2 words, "" included
        case 2 => " " + words(5 + rnd.nextInt(20)).mkString(" ") + " "
        case 3 => words(5 + rnd.nextInt(20)).mkString("  ")
        case 4 => Seq.fill(2 + rnd.nextInt(6))("a b a_b").mkString(" ")
        case 5 => words(8).map(w => w + " " * rnd.nextInt(3)).mkString(" ")
        case _ => words(10 + rnd.nextInt(60)).mkString(" ")
      }
    }
    val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // near-copies: one word changed at the end
    val copies = base.collect { case (id, t) if t != null && id % 7 == 6 =>
      (id + 10000L, t + " tail")
    }
    (base ++ copies).toDF("doc_id", "text")
      // a malformed UTF-8 document: split decodes it through a Java string
      .union(spark.range(1).select(lit(99999L).as("doc_id"),
        concat(lit("x y "), unhex(lit("C3FF28")).cast("string"), lit(" z w"))
          .as("text")))
  }

  private def register(): Unit = GraftFunctions.register(spark)

  private def longsOf(r: Row, i: Int): Seq[Long] =
    if (r.isNullAt(i)) null else r.getSeq[Long](i)

  test("graft_shingle_hashes is the sorted distinct set of the exploded reference") {
    register()
    for (n <- Seq(1, 3, 5)) {
      val ref = MinHashReference.hashedShingles(docs, n)
        .groupBy("doc_id").agg(sort_array(collect_list(col("g"))).as("gs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val got = docs.select(col("doc_id"), col("text"),
          call_function("graft_shingle_hashes", col("text"), lit(n)))
        .collect()
      assert(got.length == docs.count())
      val diffs = got.count { r =>
        val id = r.getLong(0)
        val hs = longsOf(r, 2)
        if (r.isNullAt(1)) hs != null
        else ref.get(id) match {
          case Some(gs) => hs != gs
          case None => hs != Seq.empty[Long] // fewer than n tokens
        }
      }
      assert(diffs == 0, s"$diffs of ${got.length} shingle sets differ at n=$n")
      assert(ref.size > 200, s"the corpus must exercise shingles at n=$n")
    }
  }

  test("minHashSignatures is bit-identical to the groupBy/min reference") {
    for ((n, numHashes) <- Seq((3, 64), (5, 16))) {
      val ref = MinHashReference.signatures(docs, n, numHashes).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val got = Dedup.minHashSignatures(docs, n, numHashes).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got.keySet == ref.keySet, "documents with signatures differ")
      val diffs = ref.count { case (id, sig) => got(id) != sig }
      assert(diffs == 0, s"$diffs of ${ref.size} signatures differ (n=$n)")
    }
  }

  test("SQL graft_minhash(graft_shingle_hashes(text, 3), 64) matches the DataFrame path") {
    register()
    docs.createOrReplaceTempView("minhash_spec_docs")
    val sql = spark.sql(
      """SELECT doc_id, graft_minhash(graft_shingle_hashes(text, 3), 64) AS sig
        |FROM minhash_spec_docs WHERE size(split(text, ' ')) >= 3""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val df = Dedup.minHashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sql.nonEmpty && sql == df)
    // a min over no shingles is null, as the aggregate's would be
    val empty = spark.sql(
      "SELECT graft_minhash(graft_shingle_hashes('one two', 3), 8)").head()
    assert(empty.isNullAt(0))
  }

  test("minHashSignatures executes map-only: no Exchange") {
    val p = Dedup.minHashSignatures(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"signatures must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"signatures must not aggregate:\n$p")
  }

  test("minHashLshPairs leaves no cached intermediates behind") {
    spark.catalog.clearCache()
    val pairs = Dedup.minHashLshPairs(docs).collect()
    assert(pairs.nonEmpty, "planted near-copies must pair")
    assert(spark.sharedState.cacheManager.isEmpty,
      "minHashLshPairs must not leave cached data")
  }

  test("minHashLshPairs verifies candidates with exact Jaccard of the shingle sets") {
    val sets = MinHashReference.hashedShingles(docs, 3)
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val pairs = Dedup.minHashLshPairs(docs).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b) = (sets(r.getLong(0)), sets(r.getLong(1)))
      val j = (a & b).size.toDouble / (a | b).size
      assert(j > 0.5 && math.abs(r.getDouble(2) - j) <= 5e-5, s"pair $r, J=$j")
    }
  }

  test("minHashLshPairs broadcasts a small corpus given as a join, same pairs as shuffled") {
    // a join's size estimate is the product of its inputs': without the
    // measured size every join below would plan as a shuffle
    val joined = docs.join(docs.select("doc_id"), "doc_id")
    val df = Dedup.minHashLshPairs(joined)
    val small = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shuffles = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.nonEmpty && shuffles.forall(_.contains("hashpartitioning(a#")),
      s"only the candidate pairs may shuffle:\n${shuffles.mkString("\n")}")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val shuffled = Dedup.minHashLshPairs(joined).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(small.nonEmpty && shuffled == small)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("generated kernels compile (no MODULE$) and match interpreted eval") {
    val prev = Thread.currentThread().getContextClassLoader
    Thread.currentThread().setContextClassLoader(MinHash.getClass.getClassLoader)
    try {
      val sh = ShingleHashes(BoundReference(0, StringType, nullable = true), 2)
      val sig = MinHashSignature(sh, 8)
      val code = sig.genCode(new CodegenContext).code.toString
      assert(code.contains("graft.functions.MinHash.signature") &&
        code.contains("graft.functions.MinHash.shingleHashes") &&
        !code.contains("MODULE$"), code)
      val proj = GenerateMutableProjection.generate(Seq(sh, sig))
      for (s <- Seq(null, "", "one", "one two", " a  b c ", "日本 語 😀 x")) {
        val row = InternalRow(if (s == null) null else UTF8String.fromString(s))
        val gen = proj(row)
        def longs(a: Any): Seq[Long] =
          if (a == null) null else a.asInstanceOf[ArrayData].toLongArray().toSeq
        assert(longs(if (gen.isNullAt(0)) null else gen.getArray(0)) ==
          longs(sh.eval(row)), s"shingles of '$s'")
        assert(longs(if (gen.isNullAt(1)) null else gen.getArray(1)) ==
          longs(sig.eval(row)), s"signature of '$s'")
      }
    } finally Thread.currentThread().setContextClassLoader(prev)
  }
}
