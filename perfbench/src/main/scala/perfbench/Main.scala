package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; see perfbench/README.md for the workloads, the
  * metrics and the layer each per-layer metric belongs to.
  *
  * `Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR
  *  --data DIR --expected FILE`
  *
  * Prints `RESULT {json}` as its last stdout line: correct, attempted,
  * failed and a flat name -> value map (end-to-end metrics untraced,
  * per-layer metrics traced). run.py attaches units and validates names.
  */
object Main {
  def main(args: Array[String]): Unit = {
    def parse(rest: List[String]): Map[String, String] = rest match {
      case k :: v :: tail if k.startsWith("--") => parse(tail) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val opts = parse(args.toList)
    val ctx = new Ctx(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      traced = opts("trace") == "1",
      cores = opts("cores").toInt,
      work = Paths.get(opts("work")),
      data = opts.get("data"),
      expected = opts.get("expected"))
    ctx.workload match {
      case "disagg" => Disagg.run(ctx)
      case "pipeline" => Pipeline.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.finish()
  }
}

/** Per-run state shared by the workloads: the session, the seeded inputs'
  * directory, the counters of attempted and failed operations, and the
  * reported metrics.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, val traced: Boolean,
    val cores: Int, val work: Path, val data: Option[String], val expected: Option[String]) {
  private var session: Option[SparkSession] = None
  def spark: SparkSession = session.get

  var attempted = 0L
  var failed = 0L
  var correct = true
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val trace = new Trace(traced)

  private val started = System.nanoTime()

  /** Logs how far into the run a phase ended, on stderr. */
  def mark(phase: String): Unit =
    System.err.println(f"perfbench: $phase ended at ${(System.nanoTime() - started) / 1e9}%.1f s")

  def fail(msg: String): Unit = {
    System.err.println(s"perfbench: CHECK FAILED: $msg")
    correct = false
  }

  def path(name: String): String = work.resolve(name).toString

  private def newSession(): SparkSession = {
    session.foreach(_.stop())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    session = Some(s)
    s
  }

  /** Set-up (session start and the workload's inputs) done `reps` times;
    * `setup_s` is the median.
    */
  def setup(reps: Int = 3)(body: SparkSession => Unit): Unit = {
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body(newSession())
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"perfbench: setup_s reps ${times.map(t => f"$t%.3f").mkString(" ")}")
    metrics("setup_s") = Stats.median(times)
  }

  /** Runs `op` back to back until `secs` seconds have passed (at least once). */
  def loop(secs: Double)(op: => Unit): Double = {
    val t0 = System.nanoTime()
    var elapsed = 0.0
    while (elapsed == 0.0 || elapsed < secs) {
      op
      elapsed = (System.nanoTime() - t0) / 1e9
    }
    elapsed
  }

  /** Live heap after the timed loop, with the session still open: the
    * median of three readings, each taken after a full GC, a pause in which
    * Spark's context cleaner can drop what that GC released, and a second
    * full GC.
    */
  private def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    val mb = (1 to 3).map { _ =>
      mx.gc()
      Thread.sleep(200)
      mx.gc()
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }
    System.err.println(f"perfbench: live heap MB ${mb.map(v => f"$v%.1f").mkString(" ")}")
    Stats.median(mb)
  }

  def finish(): Unit = {
    if (traced) {
      trace.selfMsByLayer.foreach { case (layer, ms) =>
        metrics(s"self.${layer}_ms") = ms / math.max(1L, trace.requests)
      }
      trace.write(work.resolve(s"spans-$workload-$seed.jsonl"))
    }
    if (!traced) metrics("heap_after_gc_mb") = liveHeapMb()
    session.foreach(_.stop())
    val names = if (traced) Metrics.perLayer else Metrics.endToEnd
    val unknown = metrics.keySet.toSet -- Metrics.endToEnd -- Metrics.perLayer
    require(unknown.isEmpty, s"metrics missing from the declared lists: $unknown")
    // a per-layer metric of a layer this workload does not exercise reads 0
    val body = names.map(k => k -> metrics.getOrElse(k, if (traced) 0.0 else Double.NaN)).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"\"$k\":$num"
    }.mkString(",")
    println(s"""RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }
}

/** The metric names BENCHMARK.json declares; run.py checks they agree. */
object Metrics {
  val endToEnd: Seq[String] = Seq("setup_s", "p50_ms", "rate_per_s", "heap_after_gc_mb")
  val perLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_ms", "sql.plan_ms",
    "spark.core_busy_ratio", "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.deser_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "disaggregate.collect_ms", "disaggregate.to_df_ms",
    "cogroup.stage_ms", "cogroup.tasks", "cogroup.task_run_ms", "map.stage_ms",
    "cogroup.shuffle_bytes_per_series", "many.kernel_share",
    "many.series_per_s", "gls.series_per_s", "gls.optimizer_evals", "gls.cogroup_tasks", "gls.cogroup_task_run_ms", "gls.core_busy_ratio",
    "gls.kernel_share",
    "core.dc_run_ms", "core.chowlin_run_ms", "core.litterman_run_ms",
    "core.prepare_us", "core.cmatrix_us", "time.infer_us", "time.companion_us",
    "core.run_us_per_series",
    "optimizer.iterations", "optimizer.evals", "optimizer.success_frac",
    "optimizer.slow_fit_evals", "optimizer.slow_fit_ms",
    "kernels.obj_eval_us", "kernels.cov_products_us", "kernels.apply_us") ++
    Pipeline.families.flatMap(f => Seq(s"pipeline.${f}_s", s"pipeline.${f}_jobs", s"pipeline.${f}_plan_ms")) ++
    Pipeline.queries.map(q => s"q.${q}_s") ++
    Seq("pipeline.total_s", "single.dc_p50_ms", "single.chowlin_p50_ms", "single.litterman_p50_ms",
      "self.bench_ms", "self.disaggregate_ms", "self.core_ms", "self.optimizer_ms",
      "self.kernels_ms", "self.pipeline_ms", "trace.overhead_pct")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  def geomean(xs: Seq[Double]): Double = math.exp(mean(xs.map(math.log)))
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
