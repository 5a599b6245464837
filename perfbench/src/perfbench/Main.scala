package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Entry point of one benchmark run (see perfbench/README.md):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Sets up (JVM, SparkSession, and a warm-up pass of the workload over a
  * separate small input), runs the workload's closed loop sized by
  * `--seconds`, checks every answer, and prints one line
  * `PERFBENCH_RESULT {...}` carrying the end-to-end metrics (`--trace 0`)
  * or the per-layer metrics (`--trace 1`). `java.io.tmpdir` must point at a
  * fresh directory owned by this run; everything the run writes goes there. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName.getOrElse(opts.getOrElse("workload", ""),
      throw new IllegalArgumentException(
        s"--workload must be one of ${Workloads.byName.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(sys.props("java.io.tmpdir"))
    val cpus = Runtime.getRuntime.availableProcessors
    val load0 = loadavg1m()

    // set-up: the SparkSession, then a warm-up pass of the workload over its
    // own small input, so the measured loop runs warm
    val t0 = System.nanoTime()
    val spark = session(cpus, root)
    val warm = new Ctx(spark, new Tracer(false), seed * 7919L + 104729L,
      Files.createDirectories(root.resolve("setup")))
    workload.run(warm, 0.0, small = true)
    if (warm.failed > 0)
      throw new IllegalStateException(s"warm-up failed: ${warm.errors.mkString("; ")}")
    val setupWallS = jvmStartS + (System.nanoTime() - t0) / 1e9
    val setupCpuS = Ctx.processCpuNs() / 1e9

    val tracer = new Tracer(trace)
    if (trace) spark.sparkContext.addSparkListener(tracer.sparkListener)
    spark.streams.addListener(tracer.streamListener)
    val ctx = new Ctx(spark, tracer, seed, Files.createDirectories(root.resolve("run")))
    val outcome = workload.run(ctx, seconds, small = false)
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    val retainedMb = heapRetainedMb()
    val load1 = loadavg1m()
    val contended = load0 > cpus || load1 > 1.5 * cpus

    val kindOps = workload.kinds.map(k => k -> ctx.okOps(k)).filter(_._2.nonEmpty)
    def p50(f: OpRec => Double) = Stats.geomean(kindOps.map(ko => Stats.median(ko._2.map(f))))
    def tail(f: OpRec => Double) = Stats.geomean(kindOps.map(ko => Stats.tail(ko._2.map(f))))
    val shortKinds = kindOps.filter(_._2.size < Stats.TailBeyond + 1).map(_._1)
    System.out.println(s"perfbench: workload=${workload.name} seed=$seed " +
      s"samples=${kindOps.map { case (k, s) => s"$k:${s.size}" }.mkString(",")} " +
      f"wall: setup_s=$setupWallS%.3f op_p50_s=${p50(_.seconds)}%.4f " +
      f"op_tail_s=${tail(_.seconds)}%.4f rows_per_s=${outcome.rowsDone / outcome.rowsSeconds}%.1f " +
      s"manifests=${ctx.fixed.getOrElse("catalog.manifests", 0.0).toInt} " +
      f"rss_peak_mb=${rssPeakMb()}%.0f " +
      s"loadavg_1m=$load0/$load1 contended=$contended" +
      (if (shortKinds.nonEmpty) s" tail_from_max=${shortKinds.mkString(",")}" else ""))
    ctx.errors.take(20).foreach(e => System.out.println(s"perfbench: error: $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupCpuS, "s"),
        ("op_cpu_p50_s", p50(_.cpuSeconds), "s"),
        ("op_cpu_tail_s", tail(_.cpuSeconds), "s"),
        ("rows_per_cpu_s", outcome.rowsDone / outcome.rowsCpuSeconds, "rows/s"),
        ("space_amp", outcome.spaceAmp, "ratio"),
        ("heap_retained_mb", retainedMb, "MB"))
      else Layers.metrics(ctx, workload) ++ Seq(
        ("run.setup_wall_s", setupWallS, "s"),
        ("run.op_p50_wall_s", p50(_.seconds), "s"),
        ("run.rss_peak_mb", rssPeakMb(), "MB"),
        ("run.loadavg_1m", load1, "load"),
        ("run.op_samples", kindOps.map(_._2.size).sum.toDouble, "count"))

    // spans, jobs and batches stay in memory until here
    if (trace) sys.props.get("perfbench.trace.out").foreach(p =>
      Files.writeString(Paths.get(p), tracer.toJson))
    spark.stop()
    val m = metrics.map { case (n, v, u) => s""""$n":{"value":${Stats.num(v)},"unit":"$u"}""" }
    System.out.println(s"""PERFBENCH_RESULT {"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{${m.mkString(",")}}}""")
    System.out.flush()
  }

  def session(cpus: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[graft.catalog.GraftSqlExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadavg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Heap still in use after a full collection once the workload is done
    * (the session, its caches and the harness's own model), in MiB: what a
    * long-lived session keeps. */
  def heapRetainedMb(): Double = {
    // the second collection frees what the first one's cleanup released
    // (Spark drops cached blocks of collected datasets asynchronously)
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) =>
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0
    }
}

object Stats {
  /** A tail percentile needs at least this many samples beyond it. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest order statistic with `TailBeyond` samples above it; the
    * maximum when there are too few samples for that. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size > TailBeyond) s(s.size - TailBeyond - 1) else s.last
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
