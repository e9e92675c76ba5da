package perfbench

/** The per-layer metric names, in `BENCHMARK.json` order. Counts and
  * seconds are per timed op unless the name says otherwise; end-state
  * sizes (`log_files`, `live_files`, `txn_entries`) are totals.
  */
object PerLayer {
  val Common: Seq[(String, String)] = Seq(
    "self_s" -> "s", "busy_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "single_task_stages" -> "count", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "task_failures" -> "count")
  val Specific: Seq[(String, String)] = Seq(
    "driver.gap_s" -> "s", "driver.jobs_per_run" -> "count",
    "state.recover_s" -> "s", "state.log_files" -> "count",
    "state.log_rows_per_recovery" -> "ratio",
    "sources.input_bytes" -> "bytes", "sources.rows_read_per_row_sliced" -> "ratio",
    "sources.jdbc_read_s" -> "s",
    "operators.validate_jobs" -> "count", "operators.view_s" -> "s",
    "operators.ivm_refresh_s" -> "s",
    "sink.plan_s" -> "s", "sink.files_added" -> "count", "sink.bytes_added" -> "bytes",
    "sink.live_files" -> "count", "sink.txn_entries" -> "count",
    "sink.files_read_per_query" -> "count", "sink.prune_ratio" -> "ratio",
    "sink.rows_read_per_row_returned" -> "ratio", "sink.fold_s" -> "s",
    "functions.verdicts_s" -> "s", "functions.vec_admission_s" -> "s",
    "functions.margin_admission_s" -> "s", "functions.compact_s" -> "s",
    "other.jobs" -> "count", "other.busy_s" -> "s")
  val All: Seq[(String, String)] =
    Layers.All.flatMap(l => Common.map { case (m, u) => (s"$l.$m", u) }) ++ Specific
  private val units = All.toMap
  def unit(name: String): String = units(name)
}

/** Folds the spans, the listener's jobs and stages and the workload's
  * own counts into the per-layer metrics.
  */
object LayerReport {
  def apply(ctx: Ctx, o: Outcome): Seq[(String, Double)] = {
    val l = ctx.listener.get
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    l.settle()
    val nOps = math.max(1, o.opSeconds.size).toDouble
    def inOps(t: Long): Boolean = o.opWindows.exists { case (a, b) => t >= a && t <= b }
    val jobs = l.synchronized(l.jobs.values.toList).filter(j => inOps(j.start))
    val jobIds = jobs.map(_.id).toSet
    val stages = l.synchronized(l.stages.values.toList).filter(s => jobIds.contains(s.job))
    val self = ctx.spans.selfSeconds
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Layers.All :+ Layers.Other) {
      val js = jobs.filter(_.layer == layer); val ss = stages.filter(_.layer == layer)
      m(s"$layer.self_s") = self.getOrElse(layer, 0.0) / nOps
      m(s"$layer.busy_s") = ss.map(_.runMs).sum / 1000.0 / nOps
      m(s"$layer.jobs") = js.size / nOps
      m(s"$layer.tasks") = ss.map(_.tasks).sum / nOps
      m(s"$layer.single_task_stages") = ss.count(_.tasks == 1) / nOps
      m(s"$layer.shuffle_bytes") = ss.map(_.shuffleBytes).sum / nOps
      m(s"$layer.spill_bytes") = ss.map(_.spillBytes).sum / nOps
      m(s"$layer.task_failures") = ss.map(_.failures).sum / nOps
    }
    val jobIv = jobs.map(j => (j.start, if (j.end < 0) j.start else j.end))
    m("driver.gap_s") = o.opWindows.map { case (a, b) =>
      (b - a) - Spans.unionLength(jobIv.map { case (s, e) => (math.max(s, a), math.min(e, b)) })
    }.sum / 1000.0 / nOps
    m("driver.jobs_per_run") = jobs.size.toDouble / math.max(1, o.specRuns)
    m("sources.input_bytes") = stages.map(_.inputBytes).sum / nOps
    m("operators.validate_jobs") = jobs.count(_.frame.startsWith("graft.operators.Validation")) / nOps
    def labelled(phase: String): Double =
      jobs.filter(j => Layers.tickPhase(j.label).exists(_._2 == phase))
        .map(j => math.max(0L, j.end - j.start)).sum / 1000.0 / nOps
    m("sink.fold_s") = labelled("fold")
    for (k <- Seq("verdicts", "vec_admission", "margin_admission", "compact"))
      m(s"functions.${k}_s") = labelled(k)
    val inputRecords = stages.map(_.inputRecords).sum.toDouble
    if (o.opUnits.sum > 0) m("sources.rows_read_per_row_sliced") = inputRecords / o.opUnits.sum
    m ++= o.layer
    if (o.layer.contains("sink.rows_returned")) {
      def inReads(t: Long) = o.readWindows.exists { case (a, b) => t >= a && t <= b }
      val readJobs = l.synchronized(l.jobs.values.toList).filter(j => inReads(j.start)).map(_.id).toSet
      val readRecords = l.synchronized(l.stages.values.toList)
        .filter(s => readJobs.contains(s.job)).map(_.inputRecords).sum
      m("sink.rows_read_per_row_returned") = readRecords / math.max(1.0, o.layer("sink.rows_returned"))
    }
    write(ctx, jobs, stages)
    PerLayer.All.map { case (k, _) => k -> m.getOrElse(k, 0.0) }
  }

  /** The run's spans and the timed ops' jobs as JSON lines, next to the
    * run's work directory: `.bench_work/trace-<workload>-<seed>.jsonl`.
    */
  private def write(ctx: Ctx, jobs: Seq[LayerListener#Job], stages: Seq[LayerListener#Stage]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val work = new java.io.File(ctx.work)
    val out = new java.io.PrintWriter(new java.io.File(work.getParentFile,
      s"trace-${work.getName.split("-").dropRight(2).mkString("-")}-${ctx.seed}.jsonl"))
    try {
      for (s <- ctx.spans.all.sortBy(_.start))
        out.println(s"""{"span": ${s.id}, "op": ${s.op}, "parent": ${s.parent}, "layer": ${q(s.layer)}, """ +
          s""""name": ${q(s.name)}, "start_ns": ${s.start}, "dur_ns": ${s.end - s.start}}""")
      for (j <- jobs)
        out.println(s"""{"job": ${j.id}, "layer": ${q(j.layer)}, "frame": ${q(j.frame)}, """ +
          s""""label": ${q(j.label)}, "start_ms": ${j.start}, "dur_ms": ${j.end - j.start}, """ +
          s""""tasks": ${stages.filter(_.job == j.id).map(_.tasks).sum}}""")
    } finally out.close()
  }
}
