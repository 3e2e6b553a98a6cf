package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.disagg.{Disaggregate, DisaggCore, TsFrame}

/** The many-series parts of the disagg workload: `Disaggregate.manySeries`
  * passes written to the `noop` sink.
  *
  * - denton-cholette: `Series` yearly series of 5-9 years to quarterly, no
  *   indicator. Each kernel takes microseconds, so the typed cogroup and
  *   its executors carry the cost.
  * - GLS: `GlsSeries` chow-lin series of 10 years to quarterly, with
  *   (indicator, constant) cogrouped from a second input. The kernels
  *   dominate inside the executors; core parallelism is the thing to watch.
  */
object ManySeries {
  val Series = 20000L
  val GlsSeries = 100
  /** Output series re-aggregated and checked against their input per run. */
  val CheckSample = 100
  /** Series replayed single-threaded on the driver in the traced run. */
  val ReplaySample = 100

  private val dcParams = Disaggregate.Params(method = "denton-cholette", aggFunc = "sum", targetFreq = Some("QS"))
  private val glsParams = Disaggregate.Params(method = "chow-lin", aggFunc = "sum")

  /** The generated inputs of one many-series job. */
  final case class Job(low: DataFrame, high: Option[DataFrame], n: Long, gls: Boolean) {
    val params: Disaggregate.Params = if (gls) glsParams else dcParams
    def method: String = params.method
  }

  def writeDc(spark: SparkSession, ctx: Ctx): Job =
    Job(Inputs.writeManySeries(spark, ctx.seed, Series, ctx.cores, ctx.path("many-low")),
      None, Series, gls = false)

  def writeGls(spark: SparkSession, ctx: Ctx): Job = {
    val (l, h) = Inputs.writeGls(spark, ctx.seed, GlsSeries, ctx.cores,
      ctx.path("gls-low"), ctx.path("gls-high"))
    Job(l, Some(h), GlsSeries, gls = true)
  }

  /** One pass, with its own `skippedSeries` accumulator: skipped series
    * count as failed. Returns the pass's wall ms.
    */
  def pass(ctx: Ctx, in: Job): Double = {
    val t0 = System.nanoTime()
    val acc = in.low.sparkSession.sparkContext.longAccumulator("perfbench.skipped")
    Disaggregate.manySeries(in.low, in.high, indicatorCols = Seq("indicator", "constant"),
      params = in.params, skippedSeries = Some(acc))
      .write.mode("overwrite").format("noop").save()
    val ms = Stats.ms(t0)
    ctx.attempted += in.n
    ctx.failed += acc.value
    if (acc.value != 0) ctx.fail(s"${acc.value} ${in.method} series skipped")
    ms
  }

  private def sampleIds(seed: Long, n: Long, k: Int): Seq[Long] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    Iterator.continually(rng.nextLong(n)).distinct.take(math.min(k.toLong, n).toInt).toSeq.sorted
  }

  private def sampleFrames(in: Job, ids: Seq[Long]): Seq[(Long, TsFrame, Option[TsFrame])] = {
    val lows = Inputs.keyedFrames(in.low, ids)
    val highs = in.high.map(h => Inputs.keyedFrames(h, ids))
    ids.map(id => (id, lows(id), highs.map(_(id))))
  }

  /** Re-aggregates the output of a seeded sample of series to years and
    * compares it with the input, outside the timed passes.
    */
  def checkSample(ctx: Ctx, in: Job): Unit = {
    val ids = sampleIds(ctx.seed, in.n, if (in.gls) CheckSample / 5 else CheckSample)
    val acc = ctx.spark.sparkContext.longAccumulator("perfbench.check.skipped")
    val lowS = in.low.filter(col("series_id").isin(ids: _*))
    val out = Disaggregate.manySeries(lowS, in.high.map(_.filter(col("series_id").isin(ids: _*))),
      indicatorCols = Seq("indicator", "constant"), params = in.params, skippedSeries = Some(acc))
      .collect().groupBy(_.getLong(0))
    val frames = Inputs.keyedFrames(in.low, ids)
    ids.foreach { id =>
      val low = frames(id)
      val rows = out.getOrElse(id, Array.empty)
      val byYear = rows.groupMapReduce(_.getAs[LocalDateTime](1).getYear)(_.getDouble(2))(_ + _)
      val y = low.data(0)
      val r = low.ts.indices.map(i => byYear.getOrElse(low.ts(i).getYear, Double.NaN) - y(i))
      val res = math.sqrt(r.map(v => v * v).sum) / math.sqrt(y.map(v => v * v).sum)
      if (rows.length != low.nRows * 4 || !(res <= 1e-9))
        ctx.fail(s"series $id: ${rows.length} rows for ${low.nRows} years, relative residual $res")
    }
    if (acc.value != 0) ctx.fail(s"${acc.value} sampled series skipped")
  }

  /** Single-threaded driver replay of a seeded sample of a job's series:
    * times `DisaggCore.run` per series (after two warm-up rounds), then
    * replays its steps with spans and checks the estimates bit for bit.
    * Returns the mean µs per series and the replay, with its spans.
    */
  def replay(ctx: Ctx, in: Job): (Double, Replay) = {
    val sample = sampleFrames(in, sampleIds(ctx.seed + 1, in.n, ReplaySample))
    def runAll(): Unit = sample.foreach { case (_, l, h) =>
      DisaggCore.run(l, h, in.params.targetFreq, aggFunc = "sum", method = in.method)
    }
    runAll(); runAll()
    val t0 = System.nanoTime()
    runAll()
    val runUs = Stats.ms(t0) * 1000.0 / sample.size
    val stepTrace = new Trace(true)
    val r = new Replay(stepTrace)
    sample.foreach { case (id, l, h) =>
      val ref = DisaggCore.run(l, h, in.params.targetFreq, aggFunc = "sum", method = in.method)
      val (_, yHat) = r.run(l, h, in.method, in.params.targetFreq)
      if (!Replay.bitIdentical(yHat, ref.values))
        ctx.fail(s"series $id: replayed estimate differs from DisaggCore.run; trace invalid")
      if (h.isEmpty) r.calendar(l, in.params.targetFreq.get)
    }
    (runUs, r)
  }

  /** The cogroup stages (they read the shuffle) and the map stages (they
    * only write it) of traced passes, per pass.
    */
  def cogroupStages(ops: Seq[SparkOp]): Seq[Seq[StageRec]] = ops.map(_.stages.filter(_.shReadBytes > 0))
  def mapStages(ops: Seq[SparkOp]): Seq[Seq[StageRec]] =
    ops.map(_.stages.filter(s => s.shReadBytes == 0 && s.shWriteBytes > 0))
}
