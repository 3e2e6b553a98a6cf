package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.disagg.{Disaggregate, DisaggCore}
import graft.perfbench.EngineIO

/** The single-series part of the disagg workload: `Disaggregate.series`
  * followed by `collect()` on BASELINE.md's three reference shapes.
  */
object SingleSeries {
  final case class Call(shape: Inputs.Shape, low: DataFrame, high: Option[DataFrame]) {
    val params = Disaggregate.Params(targetFreq = shape.targetFreq, aggFunc = "sum", method = shape.method)
    def run(): Array[Row] = Disaggregate.series(low, high, "ts", params).collect()
  }

  def write(spark: SparkSession, ctx: Ctx, shapes: Seq[Inputs.Shape]): Seq[Call] = {
    def key(s: Inputs.Shape) = s"${s.name}${s.input}"
    val lows = Inputs.writeFrames(spark, shapes.map(s => key(s) -> s.low), ctx.path("single-low"))
    val highs = Inputs.writeFrames(spark, shapes.flatMap(s => s.high.map(key(s) -> _)), ctx.path("single-high"))
    shapes.map(s => Call(s, lows(key(s)), highs.get(key(s))))
  }

  /** The output has one row per high-frequency period and its annual sums
    * match the input: |C y_hat - y| / |y| <= 1e-9.
    */
  def check(ctx: Ctx, shape: Inputs.Shape, rows: Array[Row]): Boolean = {
    val byYear = rows.groupMapReduce(_.getAs[LocalDateTime](0).getYear)(_.getDouble(1))(_ + _)
    val y = shape.low.data(0)
    val r = shape.low.ts.indices.map(i => byYear.getOrElse(shape.low.ts(i).getYear, 0.0) - y(i))
    val res = math.sqrt(r.map(v => v * v).sum) / math.sqrt(y.map(v => v * v).sum)
    val expected = shape.high.map(_.nRows).getOrElse(shape.low.nRows * 4)
    val ok = rows.length == expected && res <= 1e-9
    if (!ok) ctx.fail(s"${shape.label}: ${rows.length} rows, relative residual $res")
    ok
  }

  /** One untraced call, checked; returns its wall ms. */
  def call(ctx: Ctx, c: Call): Double = {
    val t0 = System.nanoTime()
    val ok = try check(ctx, c.shape, c.run())
      catch { case e: Exception => ctx.fail(s"${c.shape.label}: $e"); false }
    val ms = Stats.ms(t0)
    ctx.attempted += 1
    if (!ok) ctx.failed += 1
    ms
  }

  /** The fit is the maximum-likelihood estimate (`MlCheck`). It is fixed
    * by the input, so it is checked once per shape on the full result.
    */
  def checkOptimizer(ctx: Ctx, calls: Seq[Call]): Unit =
    calls.filter(_.shape.high.isDefined).foreach { c =>
      val out = Disaggregate.seriesOutput(c.low, c.high, "ts", c.params)
      val low = EngineIO.collect(c.low, "low_freq_df")
      val high = c.high.map(EngineIO.collect(_, "high_freq_df"))
      val err = out.optim match {
        case Some(res) => MlCheck.atOptimum(low, high, c.shape.method, c.shape.targetFreq, res)
        case None => Some("no optimizer result")
      }
      ctx.attempted += 1
      err.foreach { e =>
        ctx.fail(s"${c.shape.label}: $e")
        ctx.failed += 1
      }
      if (err.isEmpty && !out.optim.exists(_.success))
        System.err.println(s"perfbench: ${c.shape.label}: optimizer stopped at its iteration limit " +
          s"(success=false) at the likelihood optimum")
    }

  /** The replayed estimate must be DisaggCore.run's, bit for bit. */
  def verifyReplay(ctx: Ctx, calls: Seq[Call]): Unit = calls.foreach { c =>
    val low = EngineIO.collect(c.low, "low_freq_df")
    val high = c.high.map(EngineIO.collect(_, "high_freq_df"))
    val ref = DisaggCore.run(low, high, c.shape.targetFreq, aggFunc = "sum", method = c.shape.method)
    val (_, yHat) = new Replay(new Trace(false)).run(low, high, c.shape.method, c.shape.targetFreq)
    if (!Replay.bitIdentical(yHat, ref.values))
      ctx.fail(s"${c.shape.label}: replayed estimate differs from DisaggCore.run; trace invalid")
  }

  /** One traced call: the steps of `Disaggregate.series` run from the
    * benchmark with a span around each. Returns the core ms and Spark's
    * record of the call.
    */
  def tracedCall(ctx: Ctx, replay: Replay, probe: SparkProbe, c: Call): (Double, SparkOp, Long) = {
    val trace = ctx.trace
    trace.newRequest()
    var coreMs = 0.0
    val (ok, op, start) = probe.measure {
      trace.span("bench", "op") {
        val low = trace.span("disaggregate", "disaggregate.collect")(EngineIO.collect(c.low, "low_freq_df"))
        val high = trace.span("disaggregate", "disaggregate.collect")(
          c.high.map(EngineIO.collect(_, "high_freq_df")))
        val t1 = System.nanoTime()
        val (ts, yHat) = trace.span("core", "core.run")(
          replay.run(low, high, c.shape.method, c.shape.targetFreq))
        coreMs = Stats.ms(t1)
        check(ctx, c.shape, trace.span("disaggregate", "disaggregate.to_df")(
          EngineIO.toDataFrame(ctx.spark, ts, yHat).collect()))
      }
    }
    ctx.attempted += 1
    if (!ok) ctx.failed += 1
    (coreMs, op, start)
  }
}
