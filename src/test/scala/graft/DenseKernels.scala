package graft

import breeze.linalg._

import graft.disagg.Kernels

/** The reference's dense numeric layer (ts_disagg.py:84-176), 1:1 and
  * unoptimized: explicit n x n covariances, dense inverses and the dense
  * KKT system. Production never builds these (graft.disagg.Kernels works on
  * banded precisions); they are the oracle KernelsSpec checks the banded
  * path against, on inputs small enough that the dense forms are
  * themselves accurate.
  */
object DenseKernels {

  /** Lower-bidiagonal difference matrix raised to the h-th power
    * (build_difference_matrix, ts_disagg.py:90-93). h=0 gives identity.
    */
  def differenceMatrix(n: Int, h: Int): DenseMatrix[Double] = {
    val d = DenseMatrix.eye[Double](n)
    for (i <- 1 until n) d(i, i - 1) = -1.0
    var acc = DenseMatrix.eye[Double](n)
    for (_ <- 0 until h) acc = acc * d
    acc
  }

  /** Residual-distribution matrix `D = S C' (C S C')^-1`
    * (build_distribution_matrix, ts_disagg.py:96-97).
    */
  def distributionMatrix(sigma: DenseMatrix[Double], c: DenseMatrix[Double]): DenseMatrix[Double] = {
    val csct = c * sigma * c.t
    (csct \ (c * sigma)).t
  }

  /** AR(1) Toeplitz covariance `rho^|i-j| * s2/(1-rho^2)`
    * (build_chao_lin_covariance, ts_disagg.py:100-107).
    */
  def chowLinCovariance(rho: Double, sigmaSq: Double, n: Int): DenseMatrix[Double] =
    DenseMatrix.tabulate(n, n)((i, j) => math.pow(rho, math.abs(i - j)) * sigmaSq / (1.0 - rho * rho))

  /** Closed-form inverse of the Chow-Lin covariance at s2 = 1:
    * `tridiag(-rho; 1, 1+rho^2, ..., 1+rho^2, 1; -rho)`.
    */
  def chowLinPrecision(rho: Double, n: Int): DenseMatrix[Double] =
    if (n == 1) DenseMatrix(1.0 - rho * rho)
    else DenseMatrix.tabulate(n, n) { (i, j) =>
      if (i == j) { if (i == 0 || i == n - 1) 1.0 else 1.0 + rho * rho }
      else if (math.abs(i - j) == 1) -rho
      else 0.0
    }

  /** Litterman precision `(H D)' (H D)` with `H = I - rho*subdiag`,
    * built from its definition.
    */
  def littermanPrecision(rho: Double, n: Int): DenseMatrix[Double] = {
    val h = DenseMatrix.tabulate(n, n)((i, j) => if (i == j) 1.0 else if (i == j + 1) -rho else 0.0)
    val hd = h * differenceMatrix(n, 1)
    hd.t * hd
  }

  /** Litterman random-walk-AR(1) covariance `s2 * (D' H' H D)^-1`
    * (build_litterman_covariance, ts_disagg.py:110-114).
    */
  def littermanCovariance(rho: Double, sigmaSq: Double, n: Int): DenseMatrix[Double] =
    (littermanPrecision(rho, n) \ DenseMatrix.eye[Double](n)) * sigmaSq

  def covariance(kind: Kernels.MlCov, rho: Double, sigmaSq: Double, n: Int): DenseMatrix[Double] =
    kind match {
      case Kernels.ChowLinCov   => chowLinCovariance(rho, sigmaSq, n)
      case Kernels.LittermanCov => littermanCovariance(rho, sigmaSq, n)
    }

  /** GLS estimator (GLS_beta_hat, ts_disagg.py:117-131) with the explicit
    * inverse of `C S C'`.
    */
  def glsBetaHat(
      sigma: DenseMatrix[Double], y: DenseVector[Double],
      x: DenseMatrix[Double], c: DenseMatrix[Double]): DenseVector[Double] = {
    val csctInv = inv(c * sigma * c.t)
    val cx = c * x
    (cx.t * csctInv * cx) \ (cx.t * (csctInv * y))
  }

  /** ML objective (f_minimize, ts_disagg.py:134-152) over the dense
    * covariance: the `(1+rho)` sigma^2 correction, the GLS beta, and the
    * negated concentrated log-likelihood (log_likelihood, ts_disagg.py:84-87).
    */
  def fMinimize(
      rho: Double, sigmaSqRaw: Double, y: DenseVector[Double],
      x: DenseMatrix[Double], c: DenseMatrix[Double], kind: Kernels.MlCov): Double = {
    val sigma = covariance(kind, rho, (1.0 + rho) * sigmaSqRaw, x.rows)
    val ul = y - c * (x * glsBetaHat(sigma, y, x, c))
    val csct = c * sigma * c.t
    val ll = -y.length / 2.0 * math.log(2.0 * math.Pi) - 0.5 * (logdet(csct)._2 + (ul dot (csct \ ul)))
    -ll
  }

  /** GLS standard errors `sqrt(diag((X' S^-1 X)^-1))` (ts_disagg.py:452-455). */
  def glsStdErrors(sigma: DenseMatrix[Double], x: DenseMatrix[Double]): DenseVector[Double] =
    diag(inv(x.t * inv(sigma) * x)).map(math.sqrt)

  /** `D <- D diag(1/(x * mean(x)))`, the proportional criterion's scaling. */
  private def scaled(d: DenseMatrix[Double], x: DenseVector[Double], proportional: Boolean): DenseMatrix[Double] =
    if (!proportional) d
    else {
      val m = breeze.stats.mean(x)
      d * diag(x.map(v => 1.0 / v / m))
    }

  /** Denton covariance `(D'D)^-1` (build_denton_covariance, ts_disagg.py:155-161). */
  def dentonCovariance(
      n: Int, x: DenseVector[Double], h: Int, proportional: Boolean): DenseMatrix[Double] = {
    val d = scaled(differenceMatrix(n, h), x, proportional)
    (d.t * d) \ DenseMatrix.eye[Double](n)
  }

  /** Denton-Cholette distribution matrix: the x-block `W[:n, n:]` of the
    * dense KKT solution of  min x' D'D x  s.t.  C x = y, with the top h
    * rows sliced off the difference matrix
    * (build_denton_charlotte_distribution_matrix, ts_disagg.py:164-176).
    */
  def dentonCholetteDistributionDense(
      n: Int, nl: Int, c: DenseMatrix[Double], x: DenseVector[Double],
      h: Int, proportional: Boolean): DenseMatrix[Double] = {
    val d = scaled(differenceMatrix(n, h)(h until n, ::).toDenseMatrix, x, proportional)
    val kkt = DenseMatrix.vertcat(
      DenseMatrix.horzcat(d.t * d, c.t),
      DenseMatrix.horzcat(c, DenseMatrix.zeros[Double](nl, nl)))
    val rhs = DenseMatrix.vertcat(DenseMatrix.zeros[Double](n, nl), DenseMatrix.eye[Double](nl))
    val w = kkt \ rhs
    w(0 until n, ::).toDenseMatrix
  }

  /** `A^-1 R` for a symmetric positive-definite `A` of half-bandwidth `w`,
    * through the production banded kernel: only the band of `a` is read, and
    * with C = R' the kernel's `C A^-1` is `(A^-1 R)'`.
    */
  def bandedSpdSolve(a: DenseMatrix[Double], w: Int, rhs: DenseMatrix[Double]): DenseMatrix[Double] = {
    val band = Array.tabulate(w + 1, a.rows)((d, j) => if (j + d < a.rows) a(j + d, j) else 0.0)
    Kernels.bandedCmi(band, rhs.t)._1.t
  }
}
