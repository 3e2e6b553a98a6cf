package perfbench

/** Per-layer metrics shared by the workloads' traced runs. */
object SparkLayer {
  /** Spark scheduler metrics (jobs, stages, driver-only time, planning),
    * averaged per operation with its start time.
    */
  def scheduler(ctx: Ctx, ops: Seq[(SparkOp, Long)]): Unit = {
    val n = math.max(1, ops.size).toDouble
    val m = ctx.metrics
    m("spark.jobs") = ops.map(_._1.jobs).sum / n
    m("spark.stages") = ops.map(_._1.stages.size).sum / n
    m("spark.driver_only_ms") = ops.map { case (o, s) => o.driverOnlyMs(s) }.sum / n
    m("sql.plan_ms") = ops.map(_._1.planMs).sum / n
  }

  /** Spark task metrics, averaged per operation. */
  def tasks(ctx: Ctx, ops: Seq[SparkOp]): Unit = {
    val n = math.max(1, ops.size).toDouble
    def stageSum(f: StageRec => Long): Double = ops.map(_.stages.map(f).sum).sum.toDouble / n
    val m = ctx.metrics
    m("spark.tasks") = stageSum(_.tasks.toLong)
    val wallMs = ops.map(_.wallMs).sum.toDouble
    m("spark.core_busy_ratio") = if (wallMs > 0) stageSum(_.runMs) * n / (wallMs * ctx.cores) else 0.0
    m("spark.task_run_ms") = stageSum(_.runMs)
    m("spark.task_cpu_ms") = ops.map(_.stages.map(_.cpuMs).sum).sum / n
    m("spark.gc_ms") = stageSum(_.gcMs)
    m("spark.deser_ms") = stageSum(_.deserMs)
    m("spark.shuffle_read_bytes") = stageSum(_.shReadBytes)
    m("spark.shuffle_write_bytes") = stageSum(_.shWriteBytes)
  }

  private def meanUs(trace: Trace, name: String): Double =
    trace.totalMs(name) * 1000.0 / trace.count(name)

  /** DisaggCore / graft.time / Optimizer / Kernels step costs from a
    * replay; steps the replay did not run leave their metric as it was.
    */
  def replay(ctx: Ctx, trace: Trace, r: Replay): Unit = {
    Seq("core.prepare" -> "core.prepare_us", "core.cmatrix" -> "core.cmatrix_us",
      "time.infer" -> "time.infer_us", "time.companion" -> "time.companion_us",
      "kernels.obj_eval" -> "kernels.obj_eval_us", "kernels.cov_products" -> "kernels.cov_products_us",
      "kernels.apply" -> "kernels.apply_us").foreach { case (span, metric) =>
      if (trace.count(span) > 0) ctx.metrics(metric) = meanUs(trace, span)
    }
    val m = ctx.metrics
    if (r.optimizations > 0) {
      m("optimizer.iterations") = r.iterations.toDouble / r.optimizations
      m("optimizer.evals") = r.evals.toDouble / r.optimizations
      m("optimizer.success_frac") = r.successes.toDouble / r.optimizations
    }
  }
}
