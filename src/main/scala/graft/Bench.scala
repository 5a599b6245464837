package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total","value":N,"unit":"sec",...}.
  * Driver runs per-round → BENCH_r{N}.json.
  *
  * Each query is timed best-of-2 (`value`/`queries` are the per-query
  * minima; `queries_raw` carries every run) — a single pass conflates
  * plan cost with JIT/page-cache/machine-contention noise, which made
  * round signals untrustworthy (r1: 137.8 s contended vs 57.9 s idle on
  * the identical commit).
  *
  * Hermeticity (round-12, after the r11 w6–w9 contamination incident:
  * four entries recorded 5–12 s in the driver run vs 0.95–1.54 s
  * isolated — cross-entry debris + machine load, not plans): between
  * entries the harness (a) clears the Spark SQL cache, (b) rolls back
  * every session conf the entry set or changed, (c) deletes the
  * `graft-*` scratch warehouses the entry created under java.io.tmpdir,
  * and (d) records the 1-minute loadavg per entry (in `queries_raw`'s
  * sibling `loads` map) so a contended stretch is attributable to the
  * specific entries it inflated instead of poisoning the whole artifact.
  */
object Bench {

  /** 1-minute system load average from /proc/loadavg (linux), -1 when
    * unreadable. Recorded around the run so a contended machine is
    * self-evident in the artifact instead of needing a re-measurement
    * (round-6 adjudication: driver bench showed 3-6x inflation on w14/
    * w7/w15 purely from machine contention). */
  private def loadavg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Scratch warehouses entries create (`Files.createTempDirectory
    * ("graft-…")`) accumulate tens of GB of parquet + page-cache debris
    * across 150+ entries; later entries then measure dirty-page
    * writeback, not their plans. List the tmpdir's graft-* children so
    * the harness can diff before/after an entry and delete what it made. */
  private def graftTmpDirs(): Set[java.nio.file.Path] = {
    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir", "/tmp"))
    val out = scala.collection.mutable.Set.empty[java.nio.file.Path]
    val s = try java.nio.file.Files.list(tmp) catch { case _: Throwable => return Set.empty }
    try s.forEach { p =>
      if (p.getFileName.toString.startsWith("graft-")) out += p
    } finally s.close()
    out.toSet
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => try java.nio.file.Files.deleteIfExists(f)
          catch { case _: Throwable => () })
      finally s.close()
    } catch { case _: Throwable => () }

  /** Roll the session conf back to `before`: unset keys the entry added,
    * restore keys it changed. Static/non-modifiable confs can't have been
    * changed at runtime, so failures here are ignorable. */
  private def restoreConf(spark: SparkSession,
      before: Map[String, String]): Unit = {
    val after = spark.conf.getAll
    for (k <- after.keySet diff before.keySet)
      try spark.conf.unset(k) catch { case _: Throwable => () }
    for ((k, v) <- before if after.get(k).exists(_ != v))
      try spark.conf.set(k, v) catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadBefore = loadavg1m()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions",
        classOf[graft.catalog.GraftSqlExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM + parquet-footer + catalyst warmup so per-query numbers measure
    // the plan, not first-touch classloading.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // Optional entry subset (comma-separated names): isolated idle
    // re-measures of specific entries without paying for the full suite.
    // Unknown names fail fast — a typo must not masquerade as a
    // 0.0-second measurement (a silent filter once did exactly that).
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names diff SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown entries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val confBaseline = spark.conf.getAll
    val tmpBaseline = graftTmpDirs()
    val failed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val entryLoad = loadavg1m()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // a thrown entry must be LOUD: a swallowed failure records its
        // time-to-throw as if it were a measurement (s6 once recorded
        // 0.01 s for a broken staging path and read as an improvement)
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          failed.put(name, String.valueOf(e))
          System.err.println(s"[bench] ENTRY FAILED $name: $e")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // measurement hygiene (round 15): clear the SQL cache and the
        // per-JVM codec memos BETWEEN the best-of-N runs too, not just
        // between entries — entries that persist() intermediates or memo
        // pure-function results otherwise make run 2 nearly free, and the
        // reported minimum measures a warm cache instead of the plan.
        // Every raw run stays recorded in queries_raw; the clearing cost
        // itself is outside the timed region.
        spark.catalog.clearCache()
        // clears the DRIVER JVM's memos only: executors keep theirs, so
        // the cold-caches-between-runs guarantee holds in local mode only
        graft.llmops.Multimodal.clearMemos()
        dt
      }
      // several operators cache intermediates (shingle sets, LSH buckets)
      // that stay referenced for the session: without clearing, 150+
      // queries accumulate executor-memory pressure and the LATER
      // entries' numbers measure GC debt, not their plans (sf1: q26
      // printed 18.5 s inside the suite vs 8.7 s isolated). Clearing
      // between entries makes each number a cold-cache measurement of
      // that query alone.
      spark.catalog.clearCache()
      restoreConf(spark, confBaseline)
      // JVM-lifetime staged stream sources are memoized across entries —
      // deleting them here would force a re-stage (or, before the
      // self-healing memoization, a dangling path) on the next stream
      val keep = graft.streaming.StreamingLoader.registeredTempDirs
      (graftTmpDirs() diff tmpBaseline diff keep).foreach(deleteRecursively)
      (name, times, entryLoad)
    }
    // a FAILED entry's time-to-throw is not a measurement: keep it out
    // of the per-query minima and the headline total (a 0.01 s throw
    // would read as an improvement to anyone diffing totals without
    // cross-referencing `failed`); the raw runs stay recorded for
    // forensics
    val ok = results.filter { case (k, _, _) => !failed.containsKey(k) }
    val qs = ok.map { case (k, ts, _) => "\"" + k + "\":" + ts.min }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, ts, _) => "\"" + k + "\":[" + ts.mkString(",") + "]" }
      .mkString("{", ",", "}")
    val loads = results.map { case (k, _, l) => "\"" + k + "\":" + l }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2.min).sum else 0.0
    val loadAfter = loadavg1m()
    // loadavg above the documented threshold means external contention:
    // numbers are not comparable across rounds (doctrine in BASELINE.md
    // "Bench comparability"). Annotate rather than refuse — the driver
    // run must still produce an artifact — but the flag makes a
    // contaminated artifact self-describing.
    val contended = loadBefore > 5.0 || loadAfter > 1.5 * cpus.toInt
    // The stdout contract is ONE compact JSON line, LAST on stdout, and it
    // must fit the driver's 2,000-char capture tail — at 150+ entries the
    // full per-query map no longer does (rounds 8-10 stored unparseable
    // tails). So the line carries the totals plus the ten slowest
    // entries, and the FULL per-query map (minima + every raw run +
    // per-entry loadavg) goes to a JSON file in the repo whose path the
    // line names. A subset run writes a SEPARATE file so it can never
    // clobber the canonical full-suite artifact.
    val perQueryFile = new java.io.File(
      sys.props.getOrElse("user.dir", "."),
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_FULL.json"
    ).getAbsolutePath
    val failedJson = {
      import scala.jdk.CollectionConverters._
      failed.asScala.toSeq.sortBy(_._1)
        .map { case (k, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    }
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_raw":$raw,"entry_loadavg":$loads,"failed":$failedJson,"contended":$contended,"sf":"$sfDir","runs":$runs,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"cpus":$cpus}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(perQueryFile),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val slowest = ok.sortBy(-_._2.min).take(10)
      .map { case (k, ts, _) => "\"" + k + "\":" + ts.min }
      .mkString("{", ",", "}")
    System.err.println(s"""{"queries_raw":$raw}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":$failedJson,"slowest":$slowest,"per_query_file":"$perQueryFile","contended":$contended,"sf":"$sfDir","runs":$runs,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"cpus":$cpus}""")
    spark.stop()
  }
}
