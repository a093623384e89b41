package c360bench

/** Per-layer metrics of a traced run. Each traced pass yields one value
  * per metric (sums over its operations, except where noted); the run
  * reports the median over its traced passes. */
object Layers {
  /** (name, unit) in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "ops.build_s" -> "s", "ops.build_jobs" -> "count",
    "plan.analysis_s" -> "s", "plan.optimize_s" -> "s",
    "plan.physical_s" -> "s", "plan.rule_s" -> "s",
    "plan.rule_effective_frac" -> "ratio", "plan.exchanges" -> "count",
    "plan.graft_execs" -> "count",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.task_wait_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.driver_gap_s" -> "s", "exec.gc_s" -> "s",
    "exec.failed_tasks" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.disk_bytes" -> "bytes",
    "spill.mem_bytes" -> "bytes", "exec.peak_mem_bytes" -> "bytes",
    "scan.rows_in" -> "count", "scan.bytes_in" -> "bytes",
    "scan.rows_per_result_row" -> "ratio", "gen.rows_per_s" -> "1/s",
    "opcache.clear_s" -> "s", "cache.peak_block_bytes" -> "bytes",
    "stream.batches" -> "count", "stream.empty_batch_frac" -> "ratio",
    "stream.batch_s" -> "s", "stream.state_rows" -> "count",
    "table.commit_s" -> "s", "table.merge_s" -> "s", "table.delete_s" -> "s",
    "table.optimize_s" -> "s", "table.vacuum_s" -> "s", "table.read_s" -> "s",
    "table.live_files" -> "count", "table.bytes_per_live_byte" -> "ratio",
    "env.sentinel_s" -> "s", "env.cpu_pressure" -> "%",
    "trace.overhead" -> "ratio", "trace.op_self_frac" -> "ratio")

  private def frac(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def perPass(tr: Tracer, meter: Meter, passes: Seq[Pass],
      codegen: Seq[(Long, Double)], shapes: Seq[(Long, Double)], cpus: Int)
      : Seq[Map[String, Double]] = {
    val byId = tr.spans.map(s => s.id -> s).toMap
    def opOf(s: Span): Span =
      if (s.parent == 0) s else opOf(byId(s.parent))
    passes.filter(_.traced).zipWithIndex.map { case (p, i) =>
      val opSpans = p.ops.flatMap(_.span)
      val opIds = opSpans.map(_.id).toSet
      val inner = tr.spans.filter(s => s.parent != 0 && opIds(opOf(s).id))
      def spanS(name: String) =
        inner.filter(_.name == name).map(_.seconds).sum
      def attr(key: String) = opSpans.map(s =>
        s.attrs.get(key).map(_.toString.toDouble).getOrElse(0.0)).sum
      val cs = opSpans.map(s => meter.counters(s.attrs("group").toString))
      def sum(f: OpCounters => Long) = cs.map(f).sum.toDouble
      val gapMs = opSpans.zip(cs).map { case (s, c) =>
        c.driverGapMs(s.attrs("start_ms").asInstanceOf[Long],
          s.attrs("end_ms").asInstanceOf[Long]) }.sum
      val opS = opSpans.map(_.seconds).sum
      val resultRows = p.ops.map(_.rows).sum.toDouble
      val batches = sum(_.streamBatches)
      val (files, bytesPerLive) = shapes.lift(i).getOrElse((0L, 0.0))
      Map(
        "ops.build_s" -> spanS("build"),
        "ops.build_jobs" -> attr("build_jobs"),
        "plan.analysis_s" -> attr("plan.analysis_s"),
        "plan.optimize_s" -> attr("plan.optimize_s"),
        "plan.physical_s" -> attr("plan.physical_s"),
        "plan.rule_s" -> attr("plan.rule_s"),
        "plan.rule_effective_frac" ->
          frac(attr("plan.rule_effective"), attr("plan.rule_runs")),
        "plan.exchanges" -> attr("plan.exchanges"),
        "plan.graft_execs" -> attr("plan.graft_execs"),
        "codegen.compile_s" -> codegen.lift(i).map(_._2 / 1e3).getOrElse(0.0),
        "codegen.classes" -> codegen.lift(i).map(_._1.toDouble).getOrElse(0.0),
        "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages),
        "exec.tasks" -> sum(_.tasks),
        "exec.task_run_s" -> sum(_.taskRunMs) / 1e3,
        "exec.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
        "exec.task_wait_s" -> sum(_.taskWaitMs) / 1e3,
        "exec.busy_frac" -> frac(sum(_.taskDurMs) / 1e3, p.wallS * cpus),
        "exec.driver_gap_s" -> gapMs / 1e3,
        "exec.gc_s" -> sum(_.gcMs) / 1e3,
        "exec.failed_tasks" -> sum(_.failedTasks),
        "shuffle.write_bytes" -> sum(_.shuffleWrite),
        "shuffle.read_bytes" -> sum(_.shuffleRead),
        "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "spill.disk_bytes" -> sum(_.spillDisk),
        "spill.mem_bytes" -> sum(_.spillMem),
        "exec.peak_mem_bytes" -> cs.map(_.peakMem).maxOption.getOrElse(0L)
          .toDouble,
        "scan.rows_in" -> sum(_.rowsIn), "scan.bytes_in" -> sum(_.bytesIn),
        "scan.rows_per_result_row" -> frac(sum(_.rowsIn), resultRows),
        "opcache.clear_s" -> spanS("opcache_clear"),
        "cache.peak_block_bytes" -> meter.peakBlockBytes.toDouble,
        "stream.batches" -> batches,
        "stream.empty_batch_frac" -> frac(sum(_.streamEmpty), batches),
        "stream.batch_s" -> sum(_.streamBatchMs) / 1e3,
        "stream.state_rows" -> sum(_.stateRows),
        "table.commit_s" -> spanS("table.commit"),
        "table.merge_s" -> spanS("table.merge"),
        "table.delete_s" -> spanS("table.delete"),
        "table.optimize_s" -> spanS("table.optimize"),
        "table.vacuum_s" -> spanS("table.vacuum"),
        "table.read_s" -> spanS("table.read"),
        "table.live_files" -> files.toDouble,
        "table.bytes_per_live_byte" -> bytesPerLive,
        "trace.op_self_frac" ->
          frac(opSpans.map(tr.selfSeconds).sum, opS))
    }
  }

  def compute(tr: Tracer, meter: Meter, passes: Seq[Pass],
      codegen: Seq[(Long, Double)], shapes: Seq[(Long, Double)], cpus: Int,
      genRowsPerS: Double, sentinelS: Double, cpuPressure: Double)
      : Seq[(String, Double, String)] = {
    val pp = perPass(tr, meter, passes, codegen, shapes, cpus)
    val untraced = Stats.median(passes.filterNot(_.traced).map(_.wallS))
    val traced = Stats.median(passes.filter(_.traced).map(_.wallS))
    val extra = Map("gen.rows_per_s" -> genRowsPerS,
      "env.sentinel_s" -> sentinelS, "env.cpu_pressure" -> cpuPressure,
      "trace.overhead" -> frac(traced, untraced))
    Metrics.map { case (n, u) =>
      (n, extra.getOrElse(n, Stats.median(pp.map(_(n)))), u)
    }
  }

  /** Counts do not repeat exactly from pass to pass; each count metric's
    * per-pass values go into the run record. */
  def countSpread(tr: Tracer, meter: Meter, passes: Seq[Pass]): Map[String, Any] =
    if (!passes.exists(_.traced)) Map.empty
    else {
      val pp = perPass(tr, meter, passes, Nil, Nil, 1)
      Metrics.collect { case (n, "count") if pp.head.contains(n) =>
        n -> pp.map(_(n)) }.toMap
    }
}
