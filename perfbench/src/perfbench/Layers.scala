package perfbench

/** Per-layer metrics of a traced run, computed from the traced rounds only:
  * Spark jobs grouped by phase (the engine's job descriptions, else the
  * harness span that submitted them), harness spans around public calls,
  * timed probes, and Structured Streaming's per-batch durations. Counts
  * and byte totals are normalised per operation so runs of different
  * length compare. */
object Layers {
  val LlmOps = Seq("exact_dedup", "minhash_lsh", "clusters", "quality", "topk")
  val WritePhases = Seq("stage", "merge", "maint")

  def metrics(ctx: Ctx, w: Workload): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val jobs = t.synchronized(t.jobs.values.toList)
    val batches = t.synchronized(t.batches.toList)
    val spans = t.allSpans
    val traced = ctx.ops.filter(_.traced).toList
    val units = math.max(1, traced.count(o => w.unitKinds.contains(o.kind))).toDouble
    val loads = math.max(1, traced.count(o => w.loadKinds.contains(o.kind))).toDouble
    val readOps = traced.filter(o => w.readKinds.contains(o.kind))

    def spanMedian(name: String): Double = {
      val xs = spans.filter(_.name == name).map(_.durNs / 1e9)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def layerMedian(name: String): Double =
      ctx.layer.get(name).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
    def busyS(js: Seq[JobRec]): Double =
      Trace.unionMs(js.map(j => (j.startMs, j.endMs))) / 1000.0

    // driver-only time of a load: its wall time minus the union of the
    // Spark job spans inside it; a micro-batch's wall time is Structured
    // Streaming's triggerExecution
    val driverOnly: Seq[Double] =
      batches.filter(_.batchId % 2 == 0).flatMap { b =>
        b.durations.get("triggerExecution").map { wall =>
          val js = jobs.filter(_.batchKey == b.key)
          (wall - Trace.unionMs(js.map(j => (j.startMs, j.endMs)))) / 1000.0
        }
      } ++ traced.filter(o => w.loadKinds.contains(o.kind) && o.kind != "stream.batch").map { o =>
        val js = jobs.filter(_.opId == o.id)
        val covered = Trace.unionMs(js.map(j =>
          (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs))))
        (o.endMs - o.startMs - covered) / 1000.0
      }

    val all = t.stageTotals(jobs)
    val out = Seq.newBuilder[(String, Double, String)]
    out += (("pipeline.stage_s", spanMedian("pipeline.stage"), "s"))
    out += (("pipeline.complete_load_s", spanMedian("pipeline.complete_load"), "s"))
    out += (("catalog.driver_only_s",
      if (driverOnly.isEmpty) 0.0 else Stats.median(driverOnly), "s"))
    out += (("catalog.metadata_load_s", layerMedian("catalog.metadata_load_s"), "s"))
    out += (("catalog.metadata_bytes_per_commit",
      ctx.fixed.getOrElse("catalog.metadata_bytes_per_commit", 0.0), "B"))
    out += (("catalog.manifests", ctx.fixed.getOrElse("catalog.manifests", 0.0), "count"))
    out += (("catalog.versions_per_load",
      ctx.fixed.getOrElse("catalog.versions_per_load", 0.0), "count"))
    out += (("write.jobs_per_load",
      jobs.count(_.phase.startsWith("write.")) / loads, "jobs/load"))
    WritePhases.foreach { p =>
      val js = jobs.filter(_.phase == s"write.$p")
      val agg = t.stageTotals(js)
      out += ((s"write.$p.busy_s", busyS(js) / loads, "s/load"))
      out += ((s"write.$p.task_cpu_s", agg.cpuNs / 1e9 / loads, "s/load"))
      out += ((s"write.$p.shuffle_bytes", agg.shuffleWrite / loads, "B/load"))
      out += ((s"write.$p.spill_bytes", agg.spill / loads, "B/load"))
      if (p == "maint")
        out += (("write.maint.bytes_rewritten", agg.outputBytes / loads, "B/load"))
    }
    out += (("write.files_live", ctx.fixed.getOrElse("write.files_live", 0.0), "count"))
    out += (("read.plan_s", spanMedian("read.plan"), "s"))
    out += (("read.exec_s", spanMedian("read.exec"), "s"))
    out += (("read.files_scanned", layerMedian("read.files_scanned"), "count"))
    out += (("read.files_pruned_ratio", layerMedian("read.files_pruned_ratio"), "ratio"))
    out += (("read.jobs_per_query",
      if (readOps.isEmpty) 0.0
      else jobs.count(j => readOps.exists(_.id == j.opId)).toDouble / readOps.size,
      "jobs/query"))
    LlmOps.foreach { op =>
      val js = jobs.filter(_.phase == s"llmops.$op")
      val calls = math.max(1, spans.count(_.name == s"llmops.$op")).toDouble
      val agg = t.stageTotals(js)
      out += ((s"llmops.$op.busy_s", busyS(js) / calls, "s/call"))
      out += ((s"llmops.$op.shuffle_bytes", agg.shuffleWrite / calls, "B/call"))
      out += ((s"llmops.$op.spill_bytes", agg.spill / calls, "B/call"))
    }
    out += (("llmops.pairs", ctx.fixed.getOrElse("llmops.pairs", 0.0), "count"))
    out += (("llmops.clusters", ctx.fixed.getOrElse("llmops.clusters", 0.0), "count"))
    def batchMedian(key: String): Double = {
      val xs = batches.flatMap(_.durations.get(key)).map(_ / 1000.0)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    out += (("streaming.add_batch_s", batchMedian("addBatch"), "s"))
    out += (("streaming.wal_commit_s", batchMedian("walCommit"), "s"))
    out += (("streaming.commit_offsets_s", batchMedian("commitOffsets"), "s"))
    out += (("streaming.commits_per_batch",
      ctx.fixed.getOrElse("streaming.commits_per_batch", 0.0), "count"))
    out += (("spark.jobs", jobs.size / units, "jobs/op"))
    out += (("spark.unattributed_jobs", jobs.count(_.phase == "unattributed") / units, "jobs/op"))
    out += (("spark.stages", t.completedStageCount(jobs) / units, "stages/op"))
    out += (("spark.tasks", all.tasks / units, "tasks/op"))
    out += (("spark.task_cpu_s", all.cpuNs / 1e9 / units, "s/op"))
    out += (("spark.gc_s", all.gcMs / 1000.0 / units, "s/op"))
    out += (("spark.shuffle_read_bytes", all.shuffleRead / units, "B/op"))
    out += (("spark.shuffle_write_bytes", all.shuffleWrite / units, "B/op"))
    out += (("spark.spill_bytes", all.spill / units, "B/op"))
    // tracing overhead: traced minus untraced wall-clock median of the
    // same kinds (geometric mean over kinds, as op_p50_s)
    def wallP50(traced: Boolean): Seq[Double] = w.kinds
      .map(k => ctx.okOps(k, Some(traced)).map(_.seconds)).filter(_.nonEmpty).map(Stats.median)
    val (on, off) = (wallP50(true), wallP50(false))
    out += (("trace.overhead_s",
      if (on.isEmpty || off.isEmpty) 0.0 else Stats.geomean(on) - Stats.geomean(off), "s"))
    out += (("trace.op_p50_s", if (on.isEmpty) 0.0 else Stats.geomean(on), "s"))
    out.result()
  }
}
