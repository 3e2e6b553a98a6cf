package perfbench

import scala.collection.mutable

import graft.disagg.DisaggCore

/** disagg: the paper's core, one client in a closed loop. One operation is
  * a cycle of four calls: `Disaggregate.series` + `collect()` on each of the
  * three reference shapes (denton-cholette A->Q n=144, chow-lin A->Q n=158
  * k=2, litterman A->M n=474 k=2), then one `manySeries` pass over the
  * denton-cholette series. Cycle i calls the chow-lin and litterman
  * problems numbered i mod `Inputs.ShapeInputs`. The traced run's cycles
  * add a `manySeries` pass over the GLS series.
  *
  * `p50_ms` is the geometric mean of the three shapes' times, a shape's
  * time the geometric mean of its problems' median call times, so a
  * slowdown of any one shape moves it by the same share; `rate_per_s` is
  * series per second of the denton-cholette passes alone.
  */
object Disagg {
  /** Calls per (shape, problem) -> ms. */
  private type Samples = mutable.Map[(String, Int), mutable.ArrayBuffer[Double]]

  private def add(samples: Samples, c: SingleSeries.Call, ms: Double): Unit =
    samples.getOrElseUpdate((c.shape.name, c.shape.input), mutable.ArrayBuffer.empty) += ms

  /** Geometric mean of the shape's per-problem medians. */
  private def shapeMs(samples: Samples, name: String): Double =
    Stats.geomean(samples.collect { case ((`name`, _), ms) => Stats.median(ms.toSeq) }.toSeq)

  /** The single-series calls of cycle `i`. */
  private def cycleCalls(calls: Seq[SingleSeries.Call], i: Int): Seq[SingleSeries.Call] =
    calls.filter(c => c.shape.high.isEmpty || c.shape.input == i % Inputs.ShapeInputs)

  def run(ctx: Ctx): Unit = {
    val shapes = Inputs.singleShapes(ctx.seed)
    val names = shapes.map(_.name).distinct
    var calls: Seq[SingleSeries.Call] = Nil
    var dc: ManySeries.Job = null
    var gls: ManySeries.Job = null
    val perInput: Samples = mutable.Map.empty
    val dcMs = mutable.ArrayBuffer.empty[Double]
    val glsMs = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Double]
    var nCycles = 0
    def cycle(withGls: Boolean): Unit = {
      val t0 = System.nanoTime()
      cycleCalls(calls, nCycles).foreach(c => add(perInput, c, SingleSeries.call(ctx, c)))
      dcMs += ManySeries.pass(ctx, dc)
      if (withGls) glsMs += ManySeries.pass(ctx, gls)
      cycles += Stats.ms(t0)
      nCycles += 1
    }

    ctx.setup() { spark =>
      calls = SingleSeries.write(spark, ctx, shapes)
      dc = ManySeries.writeDc(spark, ctx)
      gls = ManySeries.writeGls(spark, ctx)
    }
    ctx.mark("set-up")
    // warm-up, untimed: every problem once, and the GLS pass once when the
    // run times it
    (0 until Inputs.ShapeInputs).foreach(i => cycle(withGls = ctx.traced && i == 0))
    ctx.mark("warm-up")
    Seq(perInput.values, Seq(dcMs, glsMs, cycles)).flatten.foreach(_.clear())
    SingleSeries.checkOptimizer(ctx, calls)
    ctx.mark("optimizer check")

    if (!ctx.traced) {
      ctx.loop(ctx.seconds)(cycle(withGls = false))
      ctx.metrics("p50_ms") = Stats.geomean(names.map(shapeMs(perInput, _)))
      ctx.metrics("rate_per_s") = dc.n * 1000.0 / Stats.median(dcMs.toSeq)
      System.err.println(s"perfbench: ${cycles.size} cycles; " +
        names.map(n => f"$n ${shapeMs(perInput, n)}%.0f ms").mkString(", ") +
        "; dc pass ms " + dcMs.map(t => f"$t%.0f").mkString(" "))
    } else {
      val t = new Traced(ctx, calls, dc, gls)
      // untraced and traced cycles alternate, so both see the same JIT state
      ctx.loop(ctx.seconds) { cycle(withGls = true); t.cycle() }
      val m = ctx.metrics
      names.foreach(n => m(s"single.${n}_p50_ms") = shapeMs(perInput, n))
      m("many.series_per_s") = dc.n * 1000.0 / Stats.median(dcMs.toSeq)
      m("gls.series_per_s") = gls.n * 1000.0 / Stats.median(glsMs.toSeq)
      t.report(Stats.median(cycles.toSeq))
    }
    ctx.mark("timed loop")
    ManySeries.checkSample(ctx, dc)
    ManySeries.checkSample(ctx, gls)
    ctx.mark("sample check")
  }

  /** The traced cycle: the single-series calls replayed step by step with
    * spans, the many-series passes under the Spark listeners.
    */
  private final class Traced(ctx: Ctx, calls: Seq[SingleSeries.Call], dc: ManySeries.Job, gls: ManySeries.Job) {
    private val trace = ctx.trace
    private val replay = new Replay(trace)
    private val probe = new SparkProbe(ctx.spark)
    private val callOps = mutable.ArrayBuffer.empty[(SparkOp, Long)]
    private val dcOps = mutable.ArrayBuffer.empty[SparkOp]
    private val glsOps = mutable.ArrayBuffer.empty[SparkOp]
    private val coreMs: Samples = mutable.Map.empty
    private val cycles = mutable.ArrayBuffer.empty[Double]
    SingleSeries.verifyReplay(ctx, calls)

    private def tracedPass(job: ManySeries.Job): SparkOp = {
      trace.newRequest()
      probe.measure(trace.span("bench", "op")(
        trace.span("disaggregate", "disaggregate.many_series")(ManySeries.pass(ctx, job))))._2
    }

    def cycle(): Unit = {
      probe.register()
      val t0 = System.nanoTime()
      cycleCalls(calls, cycles.size).foreach { c =>
        val (core, op, start) = SingleSeries.tracedCall(ctx, replay, probe, c)
        add(coreMs, c, core)
        callOps += ((op, start))
      }
      dcOps += tracedPass(dc)
      glsOps += tracedPass(gls)
      cycles += Stats.ms(t0)
      probe.unregister()
    }

    /** The fixed slow litterman fit, once per traced run and outside the
      * cycles: replayed with the traced calls' counters, so it counts in
      * `optimizer.evals`, `optimizer.iterations` and
      * `optimizer.success_frac`, and checked like a single call (estimate
      * bit-identical to `DisaggCore.run`'s and at the likelihood optimum).
      * Its optimizer stops at the iteration limit with success=false; that
      * shows in `optimizer.success_frac` and `optimizer.slow_fit_*`, not as a
      * failed operation, because the estimate itself is correct.
      */
    private def slowFit(): Unit = {
      val s = Inputs.slowLitterman
      val quiet = new Replay(new Trace(false))
      val t0 = System.nanoTime()
      val (_, yHat) = quiet.run(s.low, s.high, s.method, s.targetFreq)
      ctx.metrics("optimizer.slow_fit_ms") = Stats.ms(t0)
      ctx.metrics("optimizer.slow_fit_evals") = quiet.evals.toDouble
      replay.evals += quiet.evals
      replay.iterations += quiet.iterations
      replay.optimizations += quiet.optimizations
      replay.successes += quiet.successes
      val ref = DisaggCore.run(s.low, s.high, s.targetFreq, aggFunc = "sum", method = s.method)
      ctx.attempted += 1
      if (!Replay.bitIdentical(yHat, ref.values))
        ctx.fail(s"${s.name}: replayed estimate differs from DisaggCore.run; trace invalid")
      ref.optim.map(MlCheck.atOptimum(s.low, s.high, s.method, s.targetFreq, _))
        .getOrElse(Some("no optimizer result")).foreach { e =>
          ctx.fail(s"${s.name}: $e")
          ctx.failed += 1
        }
    }

    def report(untracedP50: Double): Unit = {
      val m = ctx.metrics
      val nCalls = callOps.size.toDouble
      SparkLayer.scheduler(ctx, callOps.toSeq)
      SparkLayer.tasks(ctx, dcOps.toSeq)
      m("disaggregate.collect_ms") = trace.totalMs("disaggregate.collect") / nCalls
      m("disaggregate.to_df_ms") = trace.totalMs("disaggregate.to_df") / nCalls
      Seq("dc" -> "core.dc_run_ms", "chowlin" -> "core.chowlin_run_ms", "litterman" -> "core.litterman_run_ms")
        .foreach { case (s, k) => m(k) = shapeMs(coreMs, s) }
      slowFit()
      SparkLayer.replay(ctx, trace, replay)

      val cogroup = ManySeries.cogroupStages(dcOps.toSeq)
      val nPasses = dcOps.size.toDouble
      m("cogroup.stage_ms") = cogroup.map(_.map(_.wallMs).sum).sum / nPasses
      m("cogroup.tasks") = cogroup.map(_.map(_.tasks).sum).sum / nPasses
      m("cogroup.task_run_ms") = cogroup.map(_.map(_.runMs).sum).sum / nPasses
      m("cogroup.shuffle_bytes_per_series") = cogroup.map(_.map(_.shReadBytes).sum).sum / nPasses / dc.n
      m("map.stage_ms") = ManySeries.mapStages(dcOps.toSeq).map(_.map(_.wallMs).sum).sum / nPasses

      val glsCogroup = ManySeries.cogroupStages(glsOps.toSeq)
      m("gls.cogroup_tasks") = Stats.mean(glsCogroup.map(_.map(_.tasks).sum.toDouble))
      m("gls.cogroup_task_run_ms") = Stats.mean(glsCogroup.map(_.map(_.runMs).sum.toDouble))
      m("gls.core_busy_ratio") =
        glsOps.map(_.stages.map(_.runMs).sum).sum.toDouble / (glsOps.map(_.wallMs).sum * ctx.cores)

      // the GLS replay only feeds gls.*; the denton-cholette replay runs
      // last, so the core, time and apply step costs are its own
      val (glsUs, glsReplay) = ManySeries.replay(ctx, gls)
      m("gls.kernel_share") = glsUs * gls.n / 1000.0 / m("gls.cogroup_task_run_ms")
      m("gls.optimizer_evals") = glsReplay.evals.toDouble / glsReplay.optimizations
      val (dcUs, dcReplay) = ManySeries.replay(ctx, dc)
      SparkLayer.replay(ctx, dcReplay.trace, dcReplay)
      m("core.run_us_per_series") = dcUs
      m("many.kernel_share") = dcUs * dc.n / 1000.0 / m("cogroup.task_run_ms")
      m("trace.overhead_pct") = (Stats.median(cycles.toSeq) / untracedP50 - 1.0) * 100.0
    }
  }
}
