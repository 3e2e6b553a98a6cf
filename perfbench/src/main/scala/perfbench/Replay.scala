package perfbench

import java.time.LocalDate

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.disagg.{DisaggCore, Kernels, Optimizer, PreparedInputs, TsFrame}
import graft.time.{Calendar, Frequency}

/** `DisaggCore.run` taken apart into its public steps, in its order, with
  * a span around each: prepareInputs, buildConversionMatrix, then either
  * the denton-cholette apply or Optimizer.minimize over a counting wrapper
  * of Kernels.negLogLikObjective, covProducts, the GLS beta and the GLS
  * residual apply. Only the steps that produce the estimate are replayed
  * (no GLS standard errors). Callers compare the result bit for bit with
  * `DisaggCore.run`; a trace whose estimate differs is invalid.
  */
final class Replay(val trace: Trace) {
  var evals = 0L
  var iterations = 0L
  var optimizations = 0L
  var successes = 0L

  def run(low: TsFrame, high: Option[TsFrame], method: String, targetFreq: Option[String]): (IndexedSeq[LocalDate], Array[Double]) = {
    val prep = trace.span("core", "core.prepare")(
      DisaggCore.prepareInputs(low, high, targetFreq, method))
    val c0 = trace.span("core", "core.cmatrix")(
      DisaggCore.buildConversionMatrix(prep.low.ts, prep.lowFreq, prep.high.ts, prep.factor, "sum"))
    val (y, c, x) = trace.span("core", "core.assemble")(Replay.assemble(prep, c0))
    val n = x.rows
    val nl = y.length
    val (p, applyD) = method match {
      case "denton-cholette" =>
        val xv = x(::, 0)
        (xv.copy, (ul: DenseVector[Double]) => trace.span("kernels", "kernels.apply")(
          Kernels.dentonCholetteApply(n, nl, c, xv, 1, true, ul)))
      case _ =>
        val kind = if (method == "chow-lin") Kernels.ChowLinCov else Kernels.LittermanCov
        val obj = (params: Array[Double]) => {
          evals += 1
          trace.span("kernels", "kernels.obj_eval")(
            Kernels.negLogLikObjective(params(0), params(1), y, x, c, kind))
        }
        val res = trace.span("optimizer", "optimizer.minimize")(Optimizer.minimize(
          "nelder-mead", obj, Array(0.8, 0.8),
          lower = Array(1e-5, 1e-5), upper = Array(1.0 - 1e-5, 1e300)))
        optimizations += 1
        iterations += res.nIter
        if (res.success) successes += 1
        val prod = trace.span("kernels", "kernels.cov_products")(
          Kernels.covProducts(kind, res.x(0), res.x(1), n, c))
        val beta = trace.span("kernels", "kernels.gls_beta")(
          Kernels.glsBetaHatFromCsct(prod.csct, y, x, c))
        (x * beta, (ul: DenseVector[Double]) => trace.span("kernels", "kernels.apply")(
          prod.cSigma.t * (prod.csct \ ul)))
    }
    trace.span("core", "core.residual") {
      val ul = y - Kernels.sparseRowProductVec(c, p)
      (prep.merged.ts, (p + applyD(ul)).toArray)
    }
  }

  /** The calendar steps prepareInputs runs for a no-indicator series,
    * called on their own so their cost can be read separately.
    */
  def calendar(low: TsFrame, targetFreq: String): Unit = {
    val lowFreq = trace.span("time", "time.infer")(Frequency.infer(low.ts)).get
    trace.span("time", "time.companion")(
      Calendar.companionIndex(low.ts, lowFreq, Frequency.parseValidated(targetFreq)))
    ()
  }
}

object Replay {
  /** y, C and X as `DisaggCore.run` builds them: C without its all-zero
    * rows, y without its NaNs and the rows C dropped, X from the indicator
    * columns.
    */
  def assemble(prep: PreparedInputs, c0: DenseMatrix[Double]): (DenseVector[Double], DenseMatrix[Double], DenseMatrix[Double]) = {
    val drop = Array.tabulate(c0.rows)(i => (0 until c0.cols).forall(j => c0(i, j) == 0.0))
    val target = prep.merged.data(0)
    val yFull = target.filterNot(_.isNaN)
    val keep = (0 until yFull.length).filterNot(drop)
    val c = if (!drop.contains(true)) c0
      else DenseMatrix.tabulate(keep.length, c0.cols)((i, j) => c0(keep(i), j))
    val xCols = prep.merged.columns.indices.drop(1)
    val x = DenseMatrix.tabulate(prep.merged.nRows, xCols.length)((i, j) => prep.merged.data(xCols(j))(i))
    (DenseVector(keep.map(yFull).toArray), c, x)
  }

  def bitIdentical(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(a(i)) == java.lang.Double.doubleToRawLongBits(b(i)))
}
