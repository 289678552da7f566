package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** The metric catalogue and the final result line. The names and units
  * here are the ones `BENCHMARK.json` declares (a unit test holds the two
  * together).
  */
object Report {

  /** End-to-end metrics; every workload reports all of them. The latency
    * slots `lead`, `second` and `third` name each workload's three op
    * classes, in the order of [[Workload.classes]]; only `lead` has enough
    * samples in a window to be steady, so the other two are diagnostics.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "lead_p50_ms" -> "ms",
    "quality" -> "ratio",
    "index_bytes_per_data_byte" -> "ratio",
    "success_rate" -> "ratio")

  private val Slots = Seq("lead", "second", "third")
  private val OpsStages = Seq("dedup", "postings", "bm25")

  /** Per-layer metrics, reported by traced runs. A layer that does no work
    * on a workload reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.executor_cpu_ms_per_op" -> "ms",
    "spark.executor_run_ms_per_op" -> "ms",
    "spark.scheduler_delay_ms_per_op" -> "ms",
    "spark.driver_gap_ms_per_op" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "plans.plan_ms_per_query" -> "ms",
    "plans.analysis_ms" -> "ms",
    "plans.optimizer_ms" -> "ms",
    "plans.plan_cache_hit_rate" -> "ratio",
    "plans.rewrite_rate" -> "ratio",
    "plans.candidate_rows_per_query" -> "count",
    "plans.embeddings_fetched_per_query" -> "count",
    "plans.actions_per_op" -> "count",
    "ivf.decoded_cache_hit_rate" -> "ratio",
    "ivf.probe_memo_hit_rate" -> "ratio",
    "ivf.useful_ratio" -> "ratio",
    "ivf.sidecar_bytes_written" -> "bytes",
    "ivf.build_s" -> "s",
    "ivf.build_job_s" -> "s",
    "ivf.build_driver_s" -> "s",
    "streaming.triggers_per_append" -> "count",
    "streaming.jobs_per_append" -> "count",
    "streaming.addBatch_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms",
    "streaming.latestOffset_ms" -> "ms",
    "streaming.commitOffsets_ms" -> "ms") ++
    OpsStages.flatMap(st => Seq(
      s"ops.$st.wall_s" -> "s",
      s"ops.$st.jobs" -> "count",
      s"ops.$st.shuffle_bytes" -> "bytes",
      s"ops.$st.spill_bytes" -> "bytes",
      s"ops.$st.cpu_s" -> "s")) ++
    Seq(
      "jvm.heap_used_peak_mb" -> "MB",
      "jvm.gc_ms" -> "ms") ++
    Seq("bench", "plans", "ivf", "streaming", "ops", "spark", "jvm")
      .map(l => s"trace.$l.self_ms_per_op" -> "ms") ++
    Seq("trace.spans" -> "count", "trace.wall_ms_per_op" -> "ms") ++
    Slots.flatMap(s => Seq(
      s"diag.$s.p50_ms" -> "ms",
      s"diag.$s.p50_first_half_ms" -> "ms",
      s"diag.$s.p50_second_half_ms" -> "ms",
      s"diag.$s.tail_ms" -> "ms",
      s"diag.$s.tail_pct" -> "%",
      s"diag.$s.samples" -> "count"))

  /** Spark-layer totals per recorded op from the listener's jobs and
    * stages, actions per op, and the JVM's heap and GC.
    */
  def sparkLayer(h: Harness, l: Layers): Map[String, Double] = {
    val nOps = math.max(1, h.ops.size)
    val jobOp = l.jobOps(h.ops.toSeq)
    val jobs = l.allJobs.filter(j => jobOp.contains(j.id))
    val stages = l.allStages.filter(s => jobOp.contains(s.job))
    val gap = h.ops.map { o =>
      Stats.uncovered(o.start, o.end,
        jobs.filter(j => jobOp(j.id).id == o.id).map(j => (j.start, j.end)))
    }.sum
    Map(
      "spark.jobs_per_op" -> jobs.size.toDouble / nOps,
      "spark.stages_per_op" -> stages.size.toDouble / nOps,
      "spark.tasks_per_op" -> stages.map(_.tasks).sum.toDouble / nOps,
      "spark.executor_cpu_ms_per_op" -> stages.map(_.cpuMs).sum / nOps,
      "spark.executor_run_ms_per_op" -> stages.map(_.runMs).sum / nOps,
      "spark.scheduler_delay_ms_per_op" -> stages.map(s => l.stageSchedDelayMs(s.id)).sum / nOps,
      "spark.driver_gap_ms_per_op" -> gap / nOps,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> stages.map(_.gcMs).sum,
      "plans.actions_per_op" -> l.allActions.count(a =>
        h.ops.exists(o => o.start <= a.end - a.durMs / 2 && a.end - a.durMs / 2 <= o.end))
        .toDouble / nOps,
      "jvm.heap_used_peak_mb" -> l.heapPeakMb,
      "jvm.gc_ms" -> l.gcMs)
  }

  /** Jobs, shuffle bytes, spill and CPU of the ops of class `cls`. */
  def opsStage(h: Harness, l: Layers, cls: String): Map[String, Double] = {
    val mine = h.ops.filter(_.cls == cls)
    val jobOp = l.jobOps(h.ops.toSeq)
    val jobIds = jobOp.collect { case (j, o) if o.cls == cls => j }.toSet
    val stages = l.allStages.filter(s => jobIds.contains(s.job))
    val n = math.max(1, mine.size)
    Map(
      s"ops.$cls.wall_s" -> mine.map(o => o.end - o.start).sum / 1e3 / n,
      s"ops.$cls.jobs" -> jobIds.size.toDouble / n,
      s"ops.$cls.shuffle_bytes" ->
        stages.map(s => s.shuffleRead + s.shuffleWrite).sum.toDouble / n,
      s"ops.$cls.spill_bytes" -> stages.map(_.spill).sum.toDouble / n,
      s"ops.$cls.cpu_s" -> stages.map(_.cpuMs).sum / 1e3 / n)
  }

  /** Attaches listener spans, keeps the spans of recorded ops and returns
    * each layer's self time per op; writes the spans out when asked.
    */
  def traceLayer(h: Harness, l: Layers): Map[String, Double] = {
    h.tracer.addDetached(l.spans())
    val attached = Trace.attach(h.tracer.all, Seq("trigger", "job", "stage", "gc"))
    val recorded = h.ops.map(_.id).toSet
    val kept = attached.filter(s => recorded.contains(s.trace))
    h.tracer.replace(kept)
    h.args.spansOut.foreach { path =>
      val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
      try kept.sortBy(_.start).foreach { s => w.write(Trace.toJsonLine(s)); w.newLine() }
      finally w.close()
    }
    val nOps = math.max(1, h.ops.size)
    Trace.selfTimeByLayer(kept).map { case (layer, ms) => s"trace.$layer.self_ms_per_op" -> ms / nOps } ++
      Map(
        "trace.spans" -> kept.size.toDouble,
        "trace.wall_ms_per_op" -> h.ops.map(o => o.end - o.start).sum / nOps)
  }

  /** Steadiness diagnostics per latency slot: p50 of each half of the
    * window, and the tail percentile the sample count supports.
    */
  def diagnostics(h: Harness, classes: Seq[String]): Map[String, Double] =
    Slots.zip(classes).flatMap { case (slot, cls) =>
      val os = h.ops.filter(_.cls == cls).sortBy(_.start)
      val lat = os.map(o => o.end - o.start).toSeq
      val (first, second) = lat.splitAt(lat.size / 2)
      val tail = Stats.tail(lat)
      Seq(
        s"diag.$slot.p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
        s"diag.$slot.p50_first_half_ms" -> (if (first.isEmpty) 0.0 else Stats.median(first)),
        s"diag.$slot.p50_second_half_ms" -> (if (second.isEmpty) 0.0 else Stats.median(second)),
        s"diag.$slot.tail_ms" -> tail.fold(0.0)(_.value),
        s"diag.$slot.tail_pct" -> tail.fold(0.0)(_.percentile * 100),
        s"diag.$slot.samples" -> lat.size.toDouble)
    }.toMap

  /** Prints every metric as `name value unit`, then the result line, whose
    * metrics are the end-to-end ones untraced and the per-layer ones traced.
    */
  def emit(h: Harness, endToEnd: Map[String, Double], perLayer: Map[String, Double]): Unit = {
    val missing = EndToEnd.map(_._1).filterNot(endToEnd.contains)
    require(missing.isEmpty, s"end-to-end metrics not measured: $missing")
    val e2e = EndToEnd.map { case (n, u) => (n, endToEnd(n), u) }
    val layers = PerLayer.map { case (n, u) => (n, perLayer.getOrElse(n, 0.0), u) }
    (e2e ++ (if (h.args.trace) layers else Nil)).foreach { case (n, v, u) =>
      println(f"metric $n%-40s $v%.6g $u")
    }
    val reported = if (h.args.trace) layers else e2e
    val bad = reported.filter { case (_, v, _) => v.isNaN || v.isInfinite }
    require(bad.isEmpty, s"non-finite metrics: $bad")
    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
      .put("correct", h.failed == 0).put("attempted", h.attempted).put("failed", h.failed)
    val metrics = out.putObject("metrics")
    // values as measured, at full precision
    reported.foreach { case (n, v, u) => metrics.putObject(n).put("value", v).put("unit", u) }
    println(mapper.writeValueAsString(out))
  }
}
