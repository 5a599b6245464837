package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation as the client saw it: its wall time and the CPU
  * time the whole JVM spent meanwhile (driver, executor threads, GC). */
final case class OpRec(id: Int, kind: String, traced: Boolean,
    startMs: Long, endMs: Long, seconds: Double, cpuSeconds: Double, var ok: Boolean)

/** What a workload hands back besides its operation samples: rows
  * committed (loads), documents curated or documents streamed, and the
  * wall and CPU seconds of the operations that did it. */
final case class Outcome(rowsDone: Long, rowsSeconds: Double, rowsCpuSeconds: Double,
    spaceAmp: Double)

/** Client-side state of one measured run: the session, the tracer, the
  * operation log and the correctness tally. Operations run one at a time
  * on the calling thread (a closed loop with one client). */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val dir: Path) {
  val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Timed probes and per-call values for per-layer metrics. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer values the workload sets once (counts, ratios). */
  val fixed = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  private var nextOp = 0
  private var roundTraced = false

  def warehouse: String = dir.resolve("warehouse").toString

  def tracedNow: Boolean = tracer.enabled && roundTraced

  /** Run one client operation. Its latency is recorded only when it
    * returns; a call that throws counts as failed and leaves no sample, so
    * time-to-throw never reads as a latency. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1; nextOp += 1
    val traced = tracedNow
    tracer.beginOp(sc, nextOp, traced)
    val startMs = System.currentTimeMillis()
    val cpu0 = Ctx.processCpuNs()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(sc, kind)(body)
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = (Ctx.processCpuNs() - cpu0) / 1e9
      ops += OpRec(nextOp, kind, traced, startMs, System.currentTimeMillis(), secs, cpu, ok = true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$kind #$nextOp threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    } finally tracer.endOp(sc)
  }

  /** Record operations Spark timed itself (stream micro-batches). */
  def external(kind: String, seconds: Double, cpuSeconds: Double, traced: Boolean): Unit = {
    attempted += 1; nextOp += 1
    val now = System.currentTimeMillis()
    ops += OpRec(nextOp, kind, traced, now, now, seconds, cpuSeconds, ok = true)
  }

  /** Correctness verdict for the most recent operation: a wrong answer
    * counts as failed and its latency sample is withdrawn. */
  def verify(what: => String)(ok: Boolean): Unit =
    if (!ok) {
      failed += 1
      errors += s"wrong answer: $what".take(400)
      ops.lastOption.foreach(_.ok = false)
    }

  /** A correctness check that is not tied to one timed operation (the
    * final table contents). */
  def gate(what: => String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += s"gate failed: $what".take(400) }
  }

  /** Run `body` inside a traced span of the current operation. */
  def span[T](name: String)(body: => T): T = tracer.span(sc, name)(body)

  def sample(name: String, v: Double): Unit =
    if (tracedNow) layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time a side probe of a traced operation (outside its latency). */
  def probe[T](name: String)(body: => T): T =
    if (!tracedNow) body
    else {
      val t0 = System.nanoTime()
      val r = body
      sample(name, (System.nanoTime() - t0) / 1e9)
      r
    }

  /** Closed loop of `seconds / roundSeconds` whole rounds (at least one).
    * The count follows from `--seconds` alone, so every run of a seed does
    * the same work and ends in the same state; `roundSeconds` is the
    * nominal length of one round. A traced run alternates traced and
    * untraced rounds, so the traced median minus the untraced median is the
    * tracing overhead, and runs at least two. */
  def rounds(seconds: Double, roundSeconds: Double)(round: Int => Unit): Int = {
    val n = math.max(if (tracer.enabled) 2 else 1, math.round(seconds / roundSeconds).toInt)
    (0 until n).foreach { r =>
      roundTraced = r % 2 == 0
      try round(r) finally roundTraced = false
    }
    n
  }

  /** Everything outside the closed loop (data preparation, bulk loads) is
    * traced whenever the run is. */
  def traced[T](body: => T): T = {
    roundTraced = true
    try body finally roundTraced = false
  }

  def okOps(kind: String, traced: Option[Boolean] = None): Seq[OpRec] =
    ops.iterator.filter(o => o.kind == kind && o.ok && traced.forall(_ == o.traced)).toSeq
}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM so far, in nanoseconds. */
  def processCpuNs(): Long = os.getProcessCpuTime

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.toArray.map(_.asInstanceOf[Path]) finally s.close()
      all.sortBy(_.toString.length).reverse.foreach { f =>
        try Files.deleteIfExists(f) catch { case NonFatal(_) => () }
      }
    }
}
