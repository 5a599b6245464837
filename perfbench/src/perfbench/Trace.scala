package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** A harness span around one call into a layer's public function. Start
  * and end are wall-clock milliseconds so they line up with Spark's job
  * events; the duration is measured in nanoseconds. */
final case class Span(id: Int, name: String, parent: Int, opId: Int,
    startMs: Long, endMs: Long, durNs: Long)

/** One Spark job as the listener saw it. `phase` comes from the engine's
  * own job description (`graft.stage:*`, `graft.merge:*`, `graft.maint:*`)
  * and otherwise from the innermost harness span that was open when the
  * job was submitted; a job with neither is "unattributed". */
final class JobRec(val jobId: Int, val phase: String, val opId: Int,
    val batchKey: String, val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageAgg {
  var cpuNs = 0L; var gcMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var outputBytes = 0L; var tasks = 0L
}

/** Per-batch durations reported by Structured Streaming; `key` is
  * "<query id>/<batch id>", the same key [[JobRec.batchKey]] carries. */
final case class BatchRec(key: String, batchId: Long, durations: Map[String, Long])

object Trace {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val TracedKey = "perfbench.traced"
  val BatchIdKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"

  /** Load ids the engine's maintenance passes stage under, and the
    * suffixes its merge rewrites append to a load id. */
  private val MaintLoads = Set("compact", "apply-deletes", "zorder")
  private val MergeSuffixes = Seq("-rw", "-up", "-ow", "-dw")

  /** The write phase of a job from the engine's job description
    * ("graft.<phase>:<step> <load id>"). Staging nested inside a merge
    * rewrite or a maintenance pass carries that pass's load id, so it is
    * counted with the pass. */
  def phaseOf(desc: String, span: String): String = {
    val d = if (desc == null) "" else desc
    val label = d.takeWhile(_ != ' ')
    val arg = d.drop(label.length + 1)
    if (label.startsWith("graft.maint:") ||
      (label.startsWith("graft.stage:") && MaintLoads.contains(arg))) "write.maint"
    else if (label.startsWith("graft.merge:") ||
      (label.startsWith("graft.stage:") && MergeSuffixes.exists(arg.endsWith))) "write.merge"
    else if (label.startsWith("graft.stage:")) "write.stage"
    else if (span != null) span
    else "unattributed"
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Records spans, Spark jobs and stream batches for one run. Spans are
  * opened only on the client thread; listener callbacks arrive on Spark's
  * listener-bus thread, so the shared maps are guarded by `this`. */
final class Tracer(val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Long)]
  private var nextSpan = 1
  private var currentOp = 0
  private var currentTraced = false

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val batches = mutable.ArrayBuffer.empty[BatchRec]

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def beginOp(sc: SparkContext, opId: Int, traced: Boolean): Unit = {
    currentOp = opId; currentTraced = traced
    sc.setLocalProperty(OpKey, opId.toString)
    sc.setLocalProperty(TracedKey, if (traced) "1" else "0")
  }

  def endOp(sc: SparkContext): Unit = {
    currentOp = 0; currentTraced = false
    sc.setLocalProperty(OpKey, null); sc.setLocalProperty(TracedKey, null)
  }

  /** Time `body` as span `name` under the innermost open span. The span
    * name is also the job-attribution label for Spark jobs the body runs. */
  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    if (!enabled) return body
    // the label is set in untraced operations too: stream batches are
    // traced by batch id, whatever operation started their query
    val prevLabel = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    if (!currentTraced) return try body finally sc.setLocalProperty(SpanKey, prevLabel)
    val id = nextSpan; nextSpan += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack.push((id, System.currentTimeMillis()))
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - t0
      val (_, start) = stack.pop()
      sc.setLocalProperty(SpanKey, prevLabel)
      val s = Span(id, name, parent, currentOp, start, System.currentTimeMillis(), dur)
      synchronized(spans += s)
    }
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. */
  def selfMs: Map[Int, Long] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = unionMs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.id -> math.max(0L, s.durNs / 1000000 - covered)
    }.toMap
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String): String = if (p == null) null else p.getProperty(k)
      val batchId = Option(prop(BatchIdKey)).map(_.toLong)
      // stream batches run on the stream thread: alternate by batch id
      val traced = batchId.map(_ % 2 == 0).getOrElse(prop(TracedKey) == "1")
      if (traced) Tracer.this.synchronized {
        jobs(e.jobId) = new JobRec(e.jobId,
          phaseOf(prop("spark.job.description"), prop(SpanKey)),
          Option(prop(OpKey)).map(_.toInt).getOrElse(0),
          batchId.map(b => s"${prop(QueryIdKey)}/$b").orNull, e.time,
          e.stageInfos.map(_.stageId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val m = info.taskMetrics
      if (m != null) Tracer.this.synchronized {
        val a = stages.getOrElseUpdate(info.stageId, new StageAgg)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.tasks += info.numTasks
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) Tracer.this.synchronized {
        val d = mutable.Map.empty[String, Long]
        p.durationMs.forEach((k, v) => d(k) = v.longValue())
        batches += BatchRec(s"${p.id}/${p.batchId}", p.batchId, d.toMap)
      }
    }
  }

  /** Stage aggregates of the given jobs (each stage counted once). */
  def stageTotals(js: Iterable[JobRec]): StageAgg = synchronized {
    val out = new StageAgg
    js.flatMap(_.stageIds).toSet.foreach { (sid: Int) =>
      stages.get(sid).foreach { a =>
        out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
        out.shuffleRead += a.shuffleRead; out.shuffleWrite += a.shuffleWrite
        out.spill += a.spill; out.outputBytes += a.outputBytes
        out.tasks += a.tasks
      }
    }
    out
  }

  def completedStageCount(js: Iterable[JobRec]): Int = synchronized {
    js.flatMap(_.stageIds).toSet.count(stages.contains)
  }

  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val self = selfMs
    val sp = allSpans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"op":${s.opId},"start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ns":${s.durNs},"self_ms":${self(s.id)}}""")
    val js = synchronized(jobs.values.toList).map(j =>
      s"""{"job":${j.jobId},"phase":${q(j.phase)},"op":${j.opId},"batch":${if (j.batchKey == null) "null" else q(j.batchKey)},"start_ms":${j.startMs},"end_ms":${j.endMs},"stages":[${j.stageIds.mkString(",")}]}""")
    val bs = synchronized(batches.toList).map(b =>
      s"""{"batch":${q(b.key)},"duration_ms":{${b.durations.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}}""")
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${js.mkString(",")}],"batches":[${bs.mkString(",")}]}"""
  }
}
