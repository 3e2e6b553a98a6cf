package graft.disagg

/** The bounded minimizer for the 2-parameter ML problem (rho, sigma^2).
  * The reference dispatches to scipy.optimize.minimize with `nelder-mead`
  * (default), `powell`, or `l-bfgs-b` (ts_disagg.py:426-448). The likelihood
  * surface is a smooth 2-D bowl with one optimum, which the R goldens encode
  * whichever method the reference names, so every accepted name runs the one
  * bounded Nelder-Mead below: the names stay a validated surface, not three
  * code paths.
  *
  * The start and restart simplices follow scipy's bounded Nelder-Mead: a
  * vertex perturbed past its upper bound is reflected inward (2*ub - x)
  * before it is clipped. Clipping alone collapses the simplex onto the bound
  * when the incumbent sits there (rho = 1 - 1e-5 on the chow-lin goldens), so
  * every restart re-seeds the same degenerate simplex and the fit never
  * leaves the bound.
  */
object Optimizer {

  /** `success` means the last simplex met both `xatol` and `fatol` before
    * `maxIter` iterations. It is a stopping test, not evidence that `x` is
    * the likelihood optimum: a simplex can meet it while stalled on a bound.
    * perfbench's `MlCheck` is the check of the estimate itself.
    */
  final case class Result(x: Array[Double], fval: Double, nIter: Int, success: Boolean)

  /** The optimizer_kwargs surface (ts_disagg.py:426-448): tolerance and
    * iteration knobs, the same for every method name.
    */
  final case class Options(
      maxIter: Int = 2000,
      xatol: Double = 1e-9,
      fatol: Double = 1e-13)

  private def clip(x: Array[Double], lo: Array[Double], hi: Array[Double]): Array[Double] = {
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      out(i) = math.min(math.max(x(i), lo(i)), hi(i))
      i += 1
    }
    out
  }

  /** Nelder-Mead with clipped simplex moves (scipy's bounded variant:
    * initial simplex from 5% per-coordinate perturbation, reflected inward at
    * the upper bound, standard rho=1 / chi=2 / psi=0.5 / sigma=0.5
    * coefficients), wrapped in a restart loop: a clipped simplex can collapse
    * onto a bound and lose a dimension, so after convergence the simplex is
    * re-seeded around the incumbent until a restart stops improving.
    */
  def nelderMead(
      f: Array[Double] => Double,
      x0: Array[Double],
      lower: Array[Double],
      upper: Array[Double],
      xatol: Double = 1e-9,
      fatol: Double = 1e-13,
      maxIter: Int = 2000): Result = {
    var best = nelderMeadOnce(f, x0, lower, upper, xatol, fatol, maxIter)
    var restarts = 0
    var improved = true
    while (improved && restarts < 3) {
      val next = nelderMeadOnce(f, best.x, lower, upper, xatol, fatol, maxIter)
      // relative threshold: a restart that only grinds out noise-level
      // improvement means the incumbent was already converged (the restart
      // exists to recover from boundary-collapsed simplices, not to polish)
      improved = next.fval < best.fval - math.max(1e-9, math.abs(best.fval) * 1e-9)
      if (next.fval < best.fval) best = next
      restarts += 1
    }
    best
  }

  private def nelderMeadOnce(
      f: Array[Double] => Double,
      x0: Array[Double],
      lower: Array[Double],
      upper: Array[Double],
      xatol: Double,
      fatol: Double,
      maxIter: Int): Result = {
    val n = x0.length
    val nonzdelt = 0.05
    val zdelt = 0.00025
    var simplex = Array.tabulate(n + 1) { i =>
      val p = x0.clone()
      if (i > 0) {
        val j = i - 1
        if (p(j) != 0.0) p(j) = p(j) * (1.0 + nonzdelt) else p(j) = zdelt
        if (p(j) > upper(j)) p(j) = 2.0 * upper(j) - p(j)
      }
      clip(p, lower, upper)
    }
    var fvals = simplex.map(f)

    def order(): Unit = {
      val idx = fvals.indices.sortBy(fvals)
      simplex = idx.map(simplex).toArray
      fvals = idx.map(fvals).toArray
    }
    order()

    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      // relative spread tests — sigma^2 scale varies over orders of magnitude
      val xDiff = (1 to n).map { i =>
        (0 until n).map(j =>
          math.abs(simplex(i)(j) - simplex(0)(j)) / (1.0 + math.abs(simplex(0)(j)))).max
      }.max
      val fDiff = (1 to n).map(i => math.abs(fvals(i) - fvals(0))).max /
        (1.0 + math.abs(fvals(0)))
      if (xDiff <= xatol && fDiff <= fatol) converged = true
      else {
        val centroid = new Array[Double](n)
        for (i <- 0 until n; j <- 0 until n) centroid(j) += simplex(i)(j) / n
        def combine(coef: Double): Array[Double] = {
          val p = new Array[Double](n)
          var j = 0
          while (j < n) {
            p(j) = centroid(j) + coef * (centroid(j) - simplex(n)(j))
            j += 1
          }
          clip(p, lower, upper)
        }
        def shrink(): Unit = {
          for (i <- 1 to n) {
            val p = new Array[Double](n)
            var j = 0
            while (j < n) {
              p(j) = simplex(0)(j) + 0.5 * (simplex(i)(j) - simplex(0)(j))
              j += 1
            }
            simplex(i) = clip(p, lower, upper)
            fvals(i) = f(simplex(i))
          }
        }
        val xr = combine(1.0)
        val fr = f(xr)
        if (fr < fvals(0)) {
          val xe = combine(2.0)
          val fe = f(xe)
          if (fe < fr) { simplex(n) = xe; fvals(n) = fe }
          else { simplex(n) = xr; fvals(n) = fr }
        } else if (fr < fvals(n - 1)) {
          simplex(n) = xr; fvals(n) = fr
        } else {
          if (fr < fvals(n)) {
            val xc = combine(0.5) // outside contraction
            val fc = f(xc)
            if (fc <= fr) { simplex(n) = xc; fvals(n) = fc }
            else shrink()
          } else {
            val xcc = combine(-0.5) // inside contraction
            val fcc = f(xcc)
            if (fcc < fvals(n)) { simplex(n) = xcc; fvals(n) = fcc }
            else shrink()
          }
        }
        order()
        it += 1
      }
    }
    Result(simplex(0), fvals(0), it, success = converged)
  }

  /** Dispatch over the reference's optimizer_kwargs["method"] names
    * (ts_disagg.py:426-448): each accepted name runs [[nelderMead]], and any
    * other name is rejected.
    */
  def minimize(
      method: String,
      f: Array[Double] => Double,
      x0: Array[Double],
      lower: Array[Double],
      upper: Array[Double],
      opts: Options = Options()): Result = method match {
    case "nelder-mead" | "powell" | "l-bfgs-b" =>
      nelderMead(f, x0, lower, upper, opts.xatol, opts.fatol, opts.maxIter)
    case other =>
      throw new IllegalArgumentException(
        s"Unsupported optimizer method $other; use nelder-mead, powell or l-bfgs-b")
  }
}
