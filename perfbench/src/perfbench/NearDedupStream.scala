package perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.GraftDataset
import graft.catalog.GraftCatalog
import graft.streaming.StreamingLoader
import graft.write.WriteConfig
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A chunked document stream through `StreamingLoader.startNearDeduped`
  * (`Trigger.AvailableNow`, one parquet chunk per micro-batch). Each round
  * starts one query over the next `chunksPerRound` chunks; the tables
  * persist across rounds, so later batches dedup against everything kept
  * before. From the second chunk on, 10% of a chunk are copies (7% near,
  * 3% exact) of fresh documents of earlier chunks. Micro-batch latencies
  * are Structured Streaming's own `triggerExecution` durations. */
final class NearDedupStream(ctx: Ctx, cat: GraftCatalog, chunkDocs: Int, chunksPerRound: Int) {
  import NearDedupStream._

  private val loader = new StreamingLoader(cat)
  private val chunks = mutable.ArrayBuffer.empty[IndexedSeq[(Long, String)]]
  private val fresh = mutable.ArrayBuffer.empty[String]
  var docs = 0L
  var batchSeconds = 0.0
  var batchCpuSeconds = 0.0

  def round(r: Int): Unit = {
    val src = Files.createDirectories(ctx.dir.resolve(s"stream-src-$r"))
    (0 until chunksPerRound).foreach { k =>
      val g = chunks.size
      val c = chunk(ctx.seed, g, chunkDocs, fresh.toIndexedSeq)
      chunks += c.map(d => (d._1, d._2))
      fresh ++= c.filterNot(_._3).map(_._2)
      val tmp = ctx.dir.resolve(s"chunk-$g")
      Common.frame(ctx, c.map(d => Row(d._1, d._2)), DocSchema).coalesce(1)
        .write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala.find(_.toString.endsWith(".parquet")).get
      val target = src.resolve(f"chunk-$k%03d.parquet")
      Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
      // the file source orders by modification time
      Files.setLastModifiedTime(target, FileTime.fromMillis(1000000000000L + k * 60000L))
      Ctx.deleteTree(tmp)
    }
    val id = ctx.op("streaming.query") {
      val stream = ctx.spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1)
        .parquet(src.toString)
      val q = loader.startNearDeduped(stream, Common.Ns, DocsTable, SigsTable,
        cfg = WriteConfig(retryUnitMs = 10), queryName = s"nd-${ctx.seed}-$r",
        checkpoint = Some(ctx.dir.resolve(s"stream-ck-$r").toString))
      try q.awaitTermination() finally q.stop()
      q.exception.foreach(e => throw e)
      q.id
    }
    docs += chunksPerRound.toLong * chunkDocs
    org.apache.spark.PerfbenchShim.drainListeners(ctx.sc)
    id.foreach { qid =>
      val query = ctx.ops.last
      val bs = ctx.tracer.synchronized(ctx.tracer.batches.toList).filter(_.key.startsWith(s"$qid/"))
      // the query's CPU time, shared over its batches in proportion to
      // their wall time
      val wall = bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
      bs.foreach { b =>
        val s = b.durations.getOrElse("triggerExecution", 0L) / 1000.0
        val cpu = if (wall > 0) query.cpuSeconds * s * 1000.0 / wall else 0.0
        ctx.external("stream.batch", s, cpu, ctx.tracer.enabled && b.batchId % 2 == 0)
        batchSeconds += s; batchCpuSeconds += cpu
      }
    }
  }

  /** The streamed tables hold exactly the documents the reference keeps. */
  def gate(ds: GraftDataset): Unit = {
    val kept = Corpus.streamKeep(chunks.toSeq, 0.6, (0.3, 0.8)).flatten.toSet
    val gotDocs = ds.table(DocsTable).select("doc_id").collect().map(_.getLong(0))
    ctx.gate(s"$DocsTable: ${gotDocs.length} docs, expected ${kept.size}")(
      gotDocs.length == kept.size && gotDocs.toSet == kept)
    val gotSigs = ds.table(SigsTable).select("doc_id").collect().map(_.getLong(0)).toSet
    ctx.gate(s"$SigsTable: ${gotSigs.size} signatures, expected ${kept.size}")(gotSigs == kept)
    val bandRows = ds.table(BandsTable).count()
    ctx.gate(s"$BandsTable: $bandRows rows, expected ${Bands * kept.size}")(
      bandRows == Bands * kept.size)
    ctx.fixed("streaming.commits_per_batch") =
      Seq(DocsTable, SigsTable, BandsTable).map(t => cat.loadTable(Common.Ns, t).currentVersion)
        .sum.toDouble / math.max(1, ctx.ops.count(_.kind == "stream.batch"))
  }
}

object NearDedupStream {
  val DocsTable = "stream_docs"
  val SigsTable = "stream_sigs"
  val BandsTable = "stream_sigs_bands"
  val Bands = 32L
  val IdBase = 10000000L

  val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  /** Chunk `g`: (id, text, is a planted copy). */
  def chunk(seed: Long, g: Int, docs: Int, earlier: IndexedSeq[String]): IndexedSeq[(Long, String, Boolean)] =
    (0 until docs).map { j =>
      val r = Common.rng(seed, 11, g.toLong * 100000 + j)
      val id = IdBase + g.toLong * 100000 + j
      val u = r.nextDouble()
      if (earlier.nonEmpty && u < 0.07) (id, Corpus.nearCopy(earlier(r.nextInt(earlier.size)), r), true)
      else if (earlier.nonEmpty && u < 0.10) (id, earlier(r.nextInt(earlier.size)), true)
      else (id, Corpus.doc(r), false)
    }
}
