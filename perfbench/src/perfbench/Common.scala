package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType
import graft.catalog.GraftCatalog
import scala.jdk.CollectionConverters._

/** A workload: seeded inputs, a closed loop of operations, and the
  * correctness gate. `kinds` are the repeated operation kinds whose
  * latencies make `op_p50_s` and `op_tail_s`. */
trait Workload {
  def name: String
  def kinds: Seq[String]
  def loadKinds: Set[String]
  def readKinds: Set[String] = Set.empty
  /** Operations per-layer counts are divided by. */
  def unitKinds: Set[String] = kinds.toSet ++ loadKinds ++ readKinds
  /** `small` is the warm-up input of set-up; `seconds` = 0 runs one round. */
  def run(ctx: Ctx, seconds: Double, small: Boolean): Outcome
}

object Workloads {
  val all: Seq[Workload] = Seq(TrickleMerge, BulkLoadQuery)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}

object Common {
  val Ns = "main"

  /** A reproducible stream of random numbers for input `i` of `stream`.
    * The three parts are mixed (SplitMix64) first: java.util.Random's first
    * draws are correlated across seeds that differ only in low bits. */
  def rng(seed: Long, stream: Int, i: Long): scala.util.Random =
    new scala.util.Random(mix(mix(mix(seed) ^ stream) ^ i))

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def frame(ctx: Ctx, rows: Seq[Row], schema: StructType): DataFrame =
    if (rows.size <= 2000) ctx.spark.createDataFrame(rows.asJava, schema)
    else ctx.spark.createDataFrame(
      ctx.sc.parallelize(rows, ctx.sc.defaultParallelism), schema)

  private val catalogIds = new java.util.concurrent.atomic.AtomicInteger()

  /** Register the Spark SQL catalog over this run's warehouse; the name is
    * unique per run because a session caches catalog instances. */
  def sqlCatalog(ctx: Ctx): String = {
    val name = s"pb${catalogIds.incrementAndGet()}"
    ctx.spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.catalog.GraftSparkCatalog].getName)
    ctx.spark.conf.set(s"spark.sql.catalog.$name.warehouse", ctx.warehouse)
    name
  }

  /** Time the metadata load of each table a traced operation touched. */
  def metadataProbe(ctx: Ctx, cat: GraftCatalog, tables: Seq[String]): Unit =
    tables.foreach(t => ctx.probe("catalog.metadata_load_s")(cat.loadTable(Ns, t).metadata))

  /** Warehouse bytes over the bytes of the same final contents written
    * once as plain parquet (one file per table). */
  def spaceAmp(ctx: Ctx, cat: GraftCatalog): Double = {
    val logicalDir = ctx.dir.resolve("logical")
    val logical = cat.listTables(Ns).map { t =>
      val out = logicalDir.resolve(t)
      cat.loadTable(Ns, t).read().coalesce(1).write.parquet(out.toString)
      parquetBytes(out)
    }.sum
    val stored = Ctx.dirBytes(java.nio.file.Paths.get(ctx.warehouse))
    Ctx.deleteTree(logicalDir)
    stored.toDouble / logical
  }

  private def parquetBytes(dir: Path): Long = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum
    finally s.close()
  }

  /** Files, manifests, metadata bytes and metadata versions of the
    * committed tables, read from the file system after the loop. */
  def footprint(ctx: Ctx, cat: GraftCatalog, loads: Int): Unit = {
    val tables = cat.listTables(Ns)
    val versions = tables.map(t => cat.loadTable(Ns, t).currentVersion).sum
    val metaBytes = tables.map(t => Ctx.dirBytes(cat.loadTable(Ns, t).metadataDir)).sum
    ctx.fixed("catalog.metadata_bytes_per_commit") = metaBytes.toDouble / math.max(1, versions)
    ctx.fixed("catalog.manifests") = tables.map { t =>
      val s = Files.list(cat.loadTable(Ns, t).metadataDir)
      try s.iterator.asScala.count(_.getFileName.toString.startsWith("manifest-")) finally s.close()
    }.sum.toDouble
    ctx.fixed("catalog.versions_per_load") = versions.toDouble / math.max(1, loads)
    ctx.fixed("write.files_live") = tables.filterNot(_.startsWith("_dlt_"))
      .map(t => cat.loadTable(Ns, t).metadata.currentFiles.size).sum.toDouble
  }

  /** One read query as a timed operation, planned and executed in separate
    * spans; a traced query also records the files it scanned, against the
    * `live` files of the tables it reads. */
  def query(ctx: Ctx, kind: String, live: Int)(mk: => DataFrame)(expect: Array[Row] => Boolean): Unit = {
    var df: DataFrame = null
    ctx.op(kind) {
      df = ctx.span("read.plan") { val d = mk; d.queryExecution.executedPlan; d }
      ctx.span("read.exec")(df.collect())
    }.foreach { rows =>
      ctx.verify(s"$kind returned ${rows.take(5).mkString(",")}")(expect(rows))
      if (ctx.tracedNow) {
        val scanned = filesScanned(df)
        ctx.sample("read.files_scanned", scanned)
        ctx.sample("read.files_pruned_ratio", 1.0 - scanned / live)
      }
    }
  }

  /** Files a finished query read, from the scan nodes' `numFiles` metric
    * (the scan after pruning), falling back to `inputFiles`. */
  def filesScanned(df: DataFrame): Double = {
    val scans = Helper.collectScans(df.queryExecution.executedPlan)
    val viaMetric = scans.flatMap(_.metrics.get("numFiles")).map(_.value)
    if (viaMetric.nonEmpty) viaMetric.sum.toDouble else df.inputFiles.length.toDouble
  }

  private object Helper extends AdaptiveSparkPlanHelper {
    def collectScans(p: org.apache.spark.sql.execution.SparkPlan) =
      collect(p) { case leaf if leaf.children.isEmpty => leaf }
  }

  /** Field-wise equality; dates and timestamps compare by value. */
  def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: java.sql.Date, y: java.sql.Date) => x.toLocalDate == y.toLocalDate
        case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.getTime == y.getTime
        case (x, y) => x == y
      }
    }

  def close(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
