package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.GraftDataset
import graft.catalog.GraftCatalog
import graft.llmops.{Dedup, Similarity, TextOps}
import graft.pipeline.GraftPipeline
import graft.write.{Append, Replace, WriteConfig}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** LLM-data curation over a seeded corpus (ids 0..n-1: 5% exact copies,
  * 5% near copies of documents that are not copies, 5% junk): one batch
  * pass `exactDedup` -> `minHashLshPairs` -> `nearDupClusters` ->
  * `qualityScore` -> one replace load of the kept documents, each stage
  * checked against the plain-Scala reference in [[Corpus]]; and
  * `Similarity.bruteForceTopK` queries over a seeded, clustered embedding
  * table, checked against an exact scan. */
final class Curation(ctx: Ctx, cat: GraftCatalog, pipe: GraftPipeline,
    ds: GraftDataset, nDocs: Int, nVecs: Int) {
  import Curation._

  private val cfg = WriteConfig(retryUnitMs = 10)

  val docs: IndexedSeq[(Long, String)] = {
    val bases = mutable.ArrayBuffer.empty[String]
    (0 until nDocs).map { i =>
      val r = Common.rng(ctx.seed, 10, i)
      val u = r.nextDouble()
      val text =
        if (i >= 20 && u < 0.05) Corpus.exactCopy(bases(r.nextInt(bases.size)))
        else if (i >= 20 && u < 0.10) Corpus.nearCopy(bases(r.nextInt(bases.size)), r)
        else if (u < 0.15) Corpus.junk(r)
        else { val t = Corpus.doc(r); bases += t; t }
      (i.toLong, text)
    }
  }

  private val r0 = Common.rng(ctx.seed, 12, 0)
  private val centers = Array.fill(Clusters) {
    val v = Array.fill(Dim)(r0.nextGaussian()); val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }
  private def near(c: Array[Double], r: scala.util.Random): Array[Float] =
    c.map(x => (x + 0.05 * r.nextGaussian()).toFloat)
  private val vecs = Array.fill(nVecs)(near(centers(r0.nextInt(Clusters)), r0))
  private val vecsD = vecs.map(_.map(_.toDouble))
  private val norms = vecsD.map(v => math.sqrt(v.map(x => x * x).sum))
  private var queryNo = 0

  /** Commit the raw corpus and the embeddings (one load, not timed). */
  def prep(): Unit = ctx.traced {
    pipe.stage("raw_docs", Common.frame(ctx, docs.map { case (i, t) => Row(i, t) },
      NearDedupStream.DocSchema), Append, cfg)
    pipe.stage("embeddings", Common.frame(ctx,
      vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), VecSchema), Append, cfg)
    pipe.completeLoad(s"corpus-prep-${ctx.seed}")
  }

  /** One curation pass; returns its operation record when it succeeded. */
  def curate(): Option[OpRec] = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def materialize(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); cached += c; c }
    val pass = ctx.traced {
      ctx.op("curate") {
        val raw = ds.table("raw_docs")
        val exact = ctx.span("llmops.exact_dedup")(materialize(
          Dedup.exactDedup(raw).select("doc_id")))
        val survivors = raw.join(exact, "doc_id")
        val pairs = ctx.span("llmops.minhash_lsh")(materialize(Dedup.minHashLshPairs(survivors)))
        val clusters = ctx.span("llmops.clusters")(materialize(Dedup.nearDupClusters(pairs)))
        val kept = survivors.join(clusters.filter(col("doc_id") =!= col("cluster_id"))
          .select("doc_id"), Seq("doc_id"), "left_anti")
        val scored = ctx.span("llmops.quality")(materialize(TextOps.qualityScore(kept)
          .filter(col("quality") >= Corpus.QualityMin).select("doc_id", "quality")))
        ctx.span("pipeline.stage")(pipe.stage("curated",
          kept.join(scored, "doc_id").select("doc_id", "text", "quality"), Replace, cfg))
        ctx.span("pipeline.complete_load")(pipe.completeLoad(s"curate-${ctx.seed}"))
        (exact, pairs, clusters)
      }
    }
    val rec = pass.map(_ => ctx.ops.last)
    pass.foreach { case (exact, pairs, clusters) =>
      ctx.traced(Common.metadataProbe(ctx, cat, Seq("curated")))
      val survivorIds = docs.groupBy(d => Corpus.normalized(d._2)).values.map(_.map(_._1).min).toSet
      val survivorDocs = docs.filter(d => survivorIds.contains(d._1))
      val expPairs = Corpus.similarPairs(survivorDocs, 0.5, (0.3, 0.7))
      val expClusters = Corpus.components(expPairs.keys)
      val expKept = survivorDocs.filter(d => expClusters.getOrElse(d._1, d._1) == d._1)
        .map(d => (d._1, d._2, Corpus.quality(d._2)))
      expKept.foreach { case (id, _, q) =>
        require(math.abs(q - Corpus.QualityMin) > 0.05, s"generated doc $id has quality $q near the threshold")
      }
      val expCurated = expKept.filter(_._3 >= Corpus.QualityMin).map(k => k._1 -> k).toMap

      val gotExact = exact.collect().map(_.getLong(0)).toSet
      ctx.verify(s"exactDedup kept ${gotExact.size}, expected ${survivorIds.size}")(gotExact == survivorIds)
      val gotPairs = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      ctx.verify(s"minHashLshPairs found ${gotPairs.size} pairs, expected ${expPairs.size}")(
        gotPairs.keySet == expPairs.keySet &&
          gotPairs.forall { case (k, j) => math.abs(j - expPairs(k)) < 2e-4 })
      val gotClusters = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ctx.verify(s"nearDupClusters: ${gotClusters.size} members, expected ${expClusters.size}")(
        gotClusters == expClusters)
      val gotCurated = ds.table("curated").collect()
      ctx.verify(s"curated: ${gotCurated.length} docs, expected ${expCurated.size}")(
        gotCurated.length == expCurated.size && gotCurated.forall { g =>
          expCurated.get(g.getLong(0)).exists { case (_, t, q) =>
            g.getString(1) == t && math.abs(g.getDouble(2) - q) < 2e-4
          }
        })
      ctx.fixed("llmops.pairs") = gotPairs.size
      ctx.fixed("llmops.clusters") = gotClusters.values.toSet.size
    }
    cached.foreach(_.unpersist())
    rec.filter(_.ok)
  }

  /** One top-k operation: `QueriesPerOp` query vectors near random cluster
    * centres, answered by brute force over the committed embeddings. */
  def topk(): Unit = {
    val rq = Common.rng(ctx.seed, 13, queryNo); queryNo += 1
    val qs = (0 until QueriesPerOp).map(j =>
      (-(queryNo * 100L + j), near(centers(rq.nextInt(Clusters)), rq)))
    val qDf = ctx.spark.createDataFrame(qs.map { case (i, v) => Row(i, v.toSeq) }.asJava, VecSchema)
    ctx.op("topk") {
      ctx.span("llmops.topk")(Similarity.bruteForceTopK(ds.table("embeddings"), qDf,
        k = TopK, dim = Dim).collect())
    }.foreach { rows =>
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(x => (x.getLong(1), x.getDouble(2))).toSeq
      }
      ctx.verify(s"bruteForceTopK answer differs for query batch $queryNo")(qs.forall { case (qid, v) =>
        val qd = v.map(_.toDouble)
        val qn = math.sqrt(qd.map(x => x * x).sum)
        val exp = vecsD.indices.map { i =>
          var dot = 0.0; var d = 0
          while (d < Dim) { dot += vecsD(i)(d) * qd(d); d += 1 }
          (i.toLong, dot / (norms(i) * qn))
        }.sortBy(x => (-x._2, x._1)).take(TopK)
        got.get(qid).exists(g => g.map(_._1) == exp.map(_._1) &&
          g.zip(exp).forall { case (a, b) => math.abs(a._2 - b._2) < 1e-3 })
      })
    }
  }
}

object Curation {
  val Dim = 64
  val Clusters = 16
  val TopK = 10
  val QueriesPerOp = 4

  val VecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}
