package perfbench

import graft.disagg.{DisaggCore, Kernels, Optimizer, TsFrame}

/** The output check of a chow-lin or litterman fit: the returned
  * (rho, sigma^2) must be the maximum-likelihood estimate.
  *
  * The estimate depends on rho alone (sigma^2 scales the covariance and
  * cancels), and for a fixed rho the objective's minimum over sigma^2 has a
  * closed form. So the check scans that profile over the whole rho range,
  * refines its minimum, and asks that the fit's objective value is no worse
  * than the profile minimum by more than `RelTol`. This tests the estimate,
  * not the optimizer's own stopping test: `Optimizer.Result.success` is
  * reported separately (`optimizer.success_frac`).
  */
object MlCheck {
  val RelTol = 1e-9
  private val GridPoints = 100

  def atOptimum(low: TsFrame, high: Option[TsFrame], method: String, targetFreq: Option[String],
      res: Optimizer.Result): Option[String] = {
    val prep = DisaggCore.prepareInputs(low, high, targetFreq, method)
    val c0 = DisaggCore.buildConversionMatrix(prep.low.ts, prep.lowFreq, prep.high.ts, prep.factor, "sum")
    val (y, c, x) = Replay.assemble(prep, c0)
    val kind = if (method == "chow-lin") Kernels.ChowLinCov else Kernels.LittermanCov
    val nl = y.length
    def f(rho: Double, sigmaSq: Double): Double =
      Kernels.negLogLikObjective(rho, sigmaSq / (1.0 + rho), y, x, c, kind)
    // with sigma^2 = 1 and 2 the objective is K + (L + q)/2 and
    // K + (L + nl ln 2 + q/2)/2, which gives q; the minimum over sigma^2
    // is at sigma^2 = q / nl
    def profile(rho: Double): Double = {
      val f1 = f(rho, 1.0)
      val q = 4.0 * (f1 - f(rho, 2.0)) + 2.0 * nl * math.log(2.0)
      f1 - 0.5 * q + 0.5 * nl * (math.log(q / nl) + 1.0)
    }
    val (lo, hi) = (1e-5, 1.0 - 1e-5)
    val step = (hi - lo) / GridPoints
    val grid = (0 to GridPoints).map(i => lo + step * i)
    val rho0 = grid.minBy(profile)
    var (a, b) = (math.max(lo, rho0 - step), math.min(hi, rho0 + step))
    val g = (math.sqrt(5.0) - 1.0) / 2.0
    for (_ <- 0 until 60) {
      val m1 = b - g * (b - a)
      val m2 = a + g * (b - a)
      if (profile(m1) < profile(m2)) b = m2 else a = m1
    }
    val best = math.min(profile((a + b) / 2.0), profile(rho0))
    val rho = res.x(0)
    val tol = RelTol * (1.0 + math.abs(best))
    if (!(rho >= lo && rho <= hi)) Some(s"rho=$rho outside [$lo, $hi]")
    else if (!(res.fval <= best + tol))
      Some(f"objective ${res.fval}%.12f at rho=$rho%.6f exceeds the likelihood optimum $best%.12f " +
        f"(profile minimum near rho=${(a + b) / 2.0}%.6f)")
    else None
  }
}
