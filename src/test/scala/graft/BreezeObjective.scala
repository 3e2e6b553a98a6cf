package graft

import breeze.linalg._

import graft.disagg.Kernels

/** The ML objective as a chain of Breeze operators: `C S C'` from the banded
  * kernel, breeze's `cholesky`, the GLS beta through
  * `Kernels.glsBetaHatFromChol`, the residual `y - C X beta`, a second solve
  * for its quadratic form, and the log-determinant from the factor's
  * diagonal. Production evaluates the same likelihood in one flat pass
  * (`Kernels.negLogLikObjective`); this is the oracle KernelsSpec checks that
  * pass against.
  */
object BreezeObjective {

  /** `C S C'` alone, through the banded `C M^-1 C'`. */
  def csctOnly(
      kind: Kernels.MlCov, rho: Double, sigmaSq: Double, n: Int,
      c: DenseMatrix[Double]): DenseMatrix[Double] =
    Kernels.bandedCmi(Kernels.precisionBand(kind, rho, n), c)._2 * sigmaSq

  def spdSolveVec(lo: DenseMatrix[Double], v: DenseVector[Double]): DenseVector[Double] =
    Kernels.spdSolveMat(lo, v.toDenseMatrix.t)(::, 0)

  def spdLogDet(lo: DenseMatrix[Double]): Double = {
    var ldet = 0.0
    var i = 0
    while (i < lo.rows) { ldet += math.log(lo(i, i)); i += 1 }
    2.0 * ldet
  }

  def negLogLikObjective(
      rho: Double, sigmaSqRaw: Double,
      y: DenseVector[Double], x: DenseMatrix[Double], c: DenseMatrix[Double],
      kind: Kernels.MlCov): Double = {
    val n = x.rows
    val nl = y.length
    val sigmaSq = (1.0 + rho) * sigmaSqRaw
    val csct = csctOnly(kind, rho, sigmaSq, n, c)
    val chol = cholesky(csct)
    val beta = Kernels.glsBetaHatFromChol(chol, y, x, c)
    val p = x * beta
    val ul = y - Kernels.sparseRowProductVec(c, p)
    val quad = ul dot spdSolveVec(chol, ul)
    -(-nl / 2.0 * math.log(2.0 * math.Pi) - 0.5 * (spdLogDet(chol) + quad))
  }
}
