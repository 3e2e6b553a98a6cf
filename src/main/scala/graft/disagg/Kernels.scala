package graft.disagg

import breeze.linalg._

/** Linear-algebra kernels for temporal disaggregation — driver-side (or
  * executor-side in the many-series mode), Breeze-backed.
  *
  * The reference's numeric contract (ts_disagg.py:84-176) is three steps:
  * the preliminary series p, the low-frequency residual ul = y - C p, and
  * the estimate p + S C' (C S C')^-1 ul. Every covariance family reaches
  * that formula through one operation: S is s2 M^-1 for a BANDED symmetric
  * positive-definite M (the tridiagonal Chow-Lin and pentadiagonal
  * Litterman precisions, the h-difference Gram D'D for Denton, D'D + rho C'C
  * for Denton-Cholette), and [[bandedCmi]] turns M and the conversion
  * matrix C into C M^-1 and C M^-1 C' in O(n w^2 + n w nl + n nl). No kernel
  * here builds an n x n matrix, so a series costs near-linear time in its
  * length; cluster scale comes from running many independent series in
  * parallel (Disaggregate.manySeries), never from distributing one series'
  * linear algebra.
  *
  * The reference's quirks are kept: the `(1+rho)` variance correction in the
  * ML objective (ts_disagg.py:144) is replicated verbatim because the
  * R-golden outputs depend on it. The dense forms the reference computes
  * (explicit covariances, the dense KKT, the distribution matrix) live in
  * test scope as `graft.DenseKernels`, the oracle KernelsSpec checks this
  * banded path against.
  */
object Kernels {

  /** Packed lower band (half-bandwidth `w` >= h) of `D'D`, where D holds the
    * rows `first until n` of the h-th difference matrix
    * (build_difference_matrix, ts_disagg.py:90-93) with the optional
    * proportional column scaling `D <- D diag(1/(x * mean(x)))`
    * (ts_disagg.py:155-161). Row i of D is the stencil
    * (-1)^k binom(h,k) at column i-k, clipped at column 0: Denton keeps every
    * row (first = 0), Denton-Cholette slices the top h off (first = h,
    * ts_disagg.py:164-176). Band-filled from the stencil in O(n h^2) —
    * never a dense D'D product.
    */
  private def stencilGram(
      n: Int, x: DenseVector[Double], h: Int, proportional: Boolean,
      first: Int, w: Int): Array[Array[Double]] = {
    val s = new Array[Double](n)
    if (proportional) {
      val xd = x.data
      // breeze.stats.mean's running mean, step for step
      var m = 0.0
      var j = 0
      while (j < n) { m += (xd(x.offset + j * x.stride) - m) / (j + 1).toDouble; j += 1 }
      j = 0
      while (j < n) { s(j) = 1.0 / xd(x.offset + j * x.stride) / m; j += 1 }
    } else java.util.Arrays.fill(s, 1.0)
    val coef = new Array[Double](h + 1)
    coef(0) = 1.0
    var k = 1
    while (k <= h) { coef(k) = -coef(k - 1) * (h - k + 1).toDouble / k; k += 1 }
    // only the lower triangle (k1 <= k2 => row i-k1 >= col i-k2) is stored
    val band = Array.fill(w + 1)(new Array[Double](n))
    var i = first
    while (i < n) {
      val kMax = math.min(h, i)
      var k1 = 0
      while (k1 <= kMax) {
        val v1 = coef(k1) * s(i - k1)
        var k2 = k1
        while (k2 <= kMax) {
          band(k2 - k1)(i - k2) += v1 * coef(k2) * s(i - k2)
          k2 += 1
        }
        k1 += 1
      }
      i += 1
    }
    band
  }

  /** Denton-Cholette as a banded system: the x-block of the KKT solution of
    * min x' D'D x  s.t.  C x = y  (build_denton_charlotte_distribution_matrix,
    * ts_disagg.py:164-176) is W = M^-1 C' (C M^-1 C')^-1 with
    * M = D'D + rho C'C, for ANY rho > 0. C'C is block-diagonal with blocks
    * no wider than the conversion factor, so M is banded SPD; rho balances
    * the two terms' scales and cancels algebraically. This replaces the
    * dense (n+nl)^2 KKT LU: the n=2400 shape drops from ~3.9 s to ~50 ms
    * (reference: 2.08 s).
    */
  private def dentonCholetteBand(
      n: Int, nl: Int, c: DenseMatrix[Double], x: DenseVector[Double],
      h: Int, proportional: Boolean): Array[Array[Double]] = {
    // C's nonzeros row by row, columns ascending: row r holds the columns
    // cols(rowStart(r) until rowStart(r + 1)), read from C's raw
    // column-major buffer in one zero scan
    val cd = plain(c).data
    val rowStart = new Array[Int](nl + 1)
    var j = 0
    while (j < n) {
      var r = 0
      while (r < nl) { if (cd(j * nl + r) != 0.0) rowStart(r + 1) += 1; r += 1 }
      j += 1
    }
    var r = 0
    while (r < nl) { rowStart(r + 1) += rowStart(r); r += 1 }
    val cols = new Array[Int](rowStart(nl))
    val next = java.util.Arrays.copyOf(rowStart, nl)
    j = 0
    while (j < n) {
      r = 0
      while (r < nl) {
        if (cd(j * nl + r) != 0.0) { cols(next(r)) = j; next(r) += 1 }
        r += 1
      }
      j += 1
    }
    // bandwidth: D'D contributes h; C'C the widest row support
    var wC = 0
    r = 0
    while (r < nl) {
      if (rowStart(r + 1) > rowStart(r))
        wC = math.max(wC, cols(rowStart(r + 1) - 1) - cols(rowStart(r)))
      r += 1
    }
    val w = math.max(h, wC)
    val band = stencilGram(n, x, h, proportional, h, w)
    // scale-balancing rho (cancels in W; conditions M)
    var diagSum = 0.0
    j = 0
    while (j < n) { diagSum += band(0)(j); j += 1 }
    val rho = if (diagSum > 0.0) diagSum / n else 1.0
    // + rho C'C (block-diagonal band fill, lower triangle: j1 >= j2); a
    // row's nonzeros lie within w of each other
    r = 0
    while (r < nl) {
      var a = rowStart(r)
      while (a < rowStart(r + 1)) {
        val j1 = cols(a)
        val v1 = cd(j1 * nl + r)
        var b = rowStart(r)
        while (b <= a) {
          val j2 = cols(b)
          band(j1 - j2)(j2) += rho * v1 * cd(j2 * nl + r)
          b += 1
        }
        a += 1
      }
      r += 1
    }
    band
  }

  /** `W ul = M^-1 C' (C M^-1 C')^-1 ul` for a banded SPD M: one nl-sized
    * solve and one n x nl product. The distribution step only ever applies
    * W to the one residual vector, so the n x nl distribution matrix is
    * never formed.
    */
  private def distribute(
      band: Array[Array[Double]], c: DenseMatrix[Double],
      ul: DenseVector[Double]): DenseVector[Double] = {
    val (cmInv, cmic) = bandedCmi(band, c)
    cmInv.t * (cmic \ ul)
  }

  /** Denton-Cholette `W ul` (see [[dentonCholetteBand]]). */
  def dentonCholetteApply(
      n: Int, nl: Int, c: DenseMatrix[Double], x: DenseVector[Double],
      h: Int, proportional: Boolean, ul: DenseVector[Double]): DenseVector[Double] =
    distribute(dentonCholetteBand(n, nl, c, x, h, proportional), c, ul)

  /** Denton `S C' (C S C')^-1 ul` with the Denton covariance
    * `S = (D'D)^-1` (build_denton_covariance, ts_disagg.py:155-161): D'D is
    * banded with half-bandwidth h, so this is the banded solve, not the
    * O(n^3) explicit inverse.
    */
  def dentonApply(
      n: Int, x: DenseVector[Double], h: Int, proportional: Boolean,
      c: DenseMatrix[Double], ul: DenseVector[Double]): DenseVector[Double] =
    distribute(stencilGram(n, x, h, proportional, 0, h), c, ul)

  /** The two ML covariance families. The likelihood objective never needs
    * the n x n covariance itself — only `C S C'` (nl x nl) and, once per
    * series for the distribution step, `C S` (nl x n). Both follow from the
    * banded precision `M = s2 S^-1` ([[precisionBand]]) through one banded
    * Cholesky per evaluation.
    */
  sealed trait MlCov
  case object ChowLinCov extends MlCov
  case object LittermanCov extends MlCov

  final case class CovProducts(csct: DenseMatrix[Double], cSigma: DenseMatrix[Double])

  /** Tridiagonal AR(1) precision in packed band form (band(d)(j) = B(j+d, j)):
    * the Chow-Lin covariance `S = s2/(1-rho^2) * rho^|i-j|`
    * (build_chao_lin_covariance, ts_disagg.py:100-107) has the closed-form
    * inverse `S^-1 = (1/s2) * B` with
    * `B = tridiag(-rho; 1, 1+rho^2, ..., 1+rho^2, 1; -rho)`.
    */
  def chowLinPrecisionBand(rho: Double, n: Int): Array[Array[Double]] = {
    val band = Array.ofDim[Double](2, n)
    var i = 0
    while (i < n) {
      band(0)(i) = if (i == 0 || i == n - 1) 1.0 else 1.0 + rho * rho
      if (i + 1 < n) band(1)(i) = -rho
      i += 1
    }
    if (n == 1) band(0)(0) = 1.0 - rho * rho
    band
  }

  /** Pentadiagonal Litterman precision `M = (H D)' (H D)`, `H = I - rho*subdiag`
    * (build_litterman_covariance, ts_disagg.py:110-114: `S = s2 M^-1`), in
    * packed band form. H D is lower-tridiagonal with bands {1, -(1+rho), rho}.
    */
  def littermanPrecisionBand(rho: Double, n: Int): Array[Array[Double]] = {
    val a = -(1.0 + rho)
    val b = rho
    val band = Array.ofDim[Double](3, n)
    var j = 0
    while (j < n) {
      var d = 1.0
      if (j + 1 < n) d += a * a
      if (j + 2 < n) d += b * b
      band(0)(j) = d
      if (j + 1 < n) {
        var o = a
        if (j + 2 < n) o += a * b
        band(1)(j) = o
      }
      if (j + 2 < n) band(2)(j) = b
      j += 1
    }
    band
  }

  private def precisionBand(kind: MlCov, rho: Double, n: Int): Array[Array[Double]] = kind match {
    case ChowLinCov   => chowLinPrecisionBand(rho, n)
    case LittermanCov => littermanPrecisionBand(rho, n)
  }

  /** `C M^-1` and `C M^-1 C'` for a banded SPD M given as its packed lower
    * band (band(d)(j) = M(j+d, j), d = 0..w) — the one solve behind every
    * covariance family. The banded Cholesky factor costs O(n w^2); the two
    * substitutions run VECTORIZED over the nl rows of C in a work buffer
    * W(j*nl + k) = (M^-1 C')(j, k), which is exactly C's column-major buffer
    * (one clone, no transpose): the substitution streams over nl-length
    * runs instead of walking a transposed view with a row-sized stride. The
    * same buffer, read as a column-major nl x n matrix, IS `C M^-1`
    * (M is symmetric), so it is returned without a copy.
    *
    * The diagonal scaling multiplies by a precomputed reciprocal: the
    * substitution is DIVISION-bound otherwise (2 n nl divides at 20-40
    * cycles each, against ~1 ulp of accuracy — well inside every tolerance
    * this kernel is checked at). Package-visible so the test-scope oracle
    * can check it on general SPD bands with a dense right-hand side.
    */
  private[graft] def bandedCmi(
      band: Array[Array[Double]],
      c0: DenseMatrix[Double]): (DenseMatrix[Double], DenseMatrix[Double]) = {
    val w = band.length - 1
    val n = band(0).length
    val cm = if (c0.isTranspose || c0.offset != 0 || c0.majorStride != c0.rows) c0.copy else c0
    val nl = cm.rows
    require(cm.cols == n, s"conversion matrix cols ${cm.cols} != n $n")
    val cd = cm.data // column-major nl x n: column j (= C(:, j)) contiguous
    val wArr = cd.clone()
    // banded Cholesky factor, column-oriented and flat: l(d * n + j) = L(j+d, j)
    val l = new Array[Double]((w + 1) * n)
    var j = 0
    while (j < n) {
      var s = band(0)(j)
      var k = math.max(0, j - w)
      while (k < j) { val v = l((j - k) * n + k); s -= v * v; k += 1 }
      val djj = math.sqrt(s)
      l(j) = djj
      var d = 1
      while (d <= w && j + d < n) {
        var s2 = band(d)(j)
        var k2 = math.max(0, j + d - w)
        while (k2 < j) { s2 -= l((j + d - k2) * n + k2) * l((j - k2) * n + k2); k2 += 1 }
        l(d * n + j) = s2 / djj
        d += 1
      }
      j += 1
    }
    val invDiag = new Array[Double](n)
    var ii = 0
    while (ii < n) { invDiag(ii) = 1.0 / l(ii); ii += 1 }
    // Column k of C' is +0.0 above its first other entry, and forward
    // substitution keeps such a prefix +0.0 (0 - f*0, then times a positive
    // 1/L(i, i)). So row i of the forward pass only touches the columns
    // k < live(i), the last column whose prefix has ended, plus one.
    val live = new Array[Int](n)
    var k0 = 0
    while (k0 < nl) {
      var i0 = 0
      while (i0 < n && java.lang.Double.doubleToRawLongBits(cd(i0 * nl + k0)) == 0L) i0 += 1
      if (i0 < n) live(i0) = k0 + 1
      k0 += 1
    }
    ii = 1
    while (ii < n) { live(ii) = math.max(live(ii), live(ii - 1)); ii += 1 }
    // L Y = C' (forward), then L' X = Y (backward)
    var i = 0
    while (i < n) {
      val base = i * nl
      val kEnd = live(i)
      var d = 1
      while (d <= w && i - d >= 0) {
        val f = l(d * n + i - d)
        val src = (i - d) * nl
        var k = 0
        while (k < kEnd) { wArr(base + k) -= f * wArr(src + k); k += 1 }
        d += 1
      }
      val r = invDiag(i)
      var k = 0
      while (k < kEnd) { wArr(base + k) *= r; k += 1 }
      i += 1
    }
    i = n - 1
    while (i >= 0) {
      val base = i * nl
      var d = 1
      while (d <= w && i + d < n) {
        val f = l(d * n + i)
        val src = (i + d) * nl
        var k = 0
        while (k < nl) { wArr(base + k) -= f * wArr(src + k); k += 1 }
        d += 1
      }
      val r = invDiag(i)
      var k = 0
      while (k < nl) { wArr(base + k) *= r; k += 1 }
      i -= 1
    }
    // out(r, k) = sum_j C(r, j) * W(j, k). j OUTER: C's column j and W's
    // row j are both contiguous (the r-outer form reads cd with a row-sized
    // stride — pure cache misses), and out fits in L2. For each r the js
    // still arrive in ascending order. A conversion-matrix column has at
    // most one nonzero (each high-freq period maps to one low period), so
    // this is O(n nl).
    val od = new Array[Double](nl * nl)
    j = 0
    while (j < n) {
      val base = j * nl
      var r = 0
      while (r < nl) {
        val cv = cd(base + r)
        if (cv != 0.0) {
          var k = 0
          while (k < nl) { od(k * nl + r) += cv * wArr(base + k); k += 1 }
        }
        r += 1
      }
      j += 1
    }
    (new DenseMatrix(nl, n, wArr), new DenseMatrix(nl, nl, od))
  }

  /** `c * m` exploiting C's row sparsity: each conversion-matrix row has
    * exactly `factor` nonzeros (a contiguous calendar window), so the dense
    * O(nl·n·k) gemm wastes a factor n/f of its flops on exact zeros — at
    * n=4800/nl=400 that multiply DOMINATED the objective evaluation
    * (~400x more flops than needed). Value-identical to the dense product:
    * the skipped terms are exact zeros and the surviving terms accumulate
    * in the same ascending-row order.
    */
  def sparseRowProduct(c: DenseMatrix[Double], m: DenseMatrix[Double]): DenseMatrix[Double] = {
    require(c.cols == m.rows, s"dim mismatch ${c.cols} vs ${m.rows}")
    val cm = plain(c); val mm = plain(m)
    val nr = cm.rows; val nc = cm.cols; val mc = mm.cols
    val cd = cm.data; val md = mm.data
    val out = DenseMatrix.zeros[Double](nr, mc)
    val od = out.data
    // j outer: the zero scan walks C's columns contiguously; every output
    // element still sums its j terms in ascending order
    var j = 0
    while (j < nc) {
      val base = j * nr
      var i = 0
      while (i < nr) {
        val w = cd(base + i)
        if (w != 0.0) {
          var k = 0
          while (k < mc) { od(k * nr + i) += w * md(k * nc + j); k += 1 }
        }
        i += 1
      }
      j += 1
    }
    out
  }

  /** `c * v` for a vector, same sparsity argument and term order as
    * [[sparseRowProduct]]. */
  def sparseRowProductVec(c: DenseMatrix[Double], v: DenseVector[Double]): DenseVector[Double] = {
    require(c.cols == v.length, s"dim mismatch ${c.cols} vs ${v.length}")
    val cm = plain(c)
    val nr = cm.rows; val cd = cm.data
    val od = new Array[Double](nr)
    var j = 0
    while (j < cm.cols) {
      val base = j * nr
      val vj = v(j)
      var i = 0
      while (i < nr) {
        val w = cd(base + i)
        if (w != 0.0) od(i) += w * vj
        i += 1
      }
      j += 1
    }
    DenseVector(od)
  }

  /** `m` itself when its `data` is plain column-major from index 0, else a
    * copy that is: raw `data` reads cost less than the per-element apply()
    * of the generic path on the O(nl·n) zero scan. */
  private def plain(m: DenseMatrix[Double]): DenseMatrix[Double] =
    if (m.isTranspose || m.offset != 0 || m.majorStride != m.rows) m.copy else m

  /** `C S C'` alone — the only covariance product the ML objective needs.
    * Skips scaling the nl x n `C S`; the full [[covProducts]] runs once per
    * series for the final distribution step, this runs per optimizer
    * evaluation.
    */
  def csctOnly(
      kind: MlCov, rho: Double, sigmaSq: Double, n: Int,
      c: DenseMatrix[Double]): DenseMatrix[Double] =
    bandedCmi(precisionBand(kind, rho, n), c)._2 * sigmaSq

  def covProducts(
      kind: MlCov, rho: Double, sigmaSq: Double, n: Int,
      c: DenseMatrix[Double]): CovProducts = {
    val (cmInv, cmic) = bandedCmi(precisionBand(kind, rho, n), c)
    CovProducts(cmic * sigmaSq, cmInv * sigmaSq)
  }

  /** Apply S^-1 to a skinny matrix (for GLS standard errors) — banded
    * symmetric multiply, O(n*w*k), no dense n x n precision carrier.
    */
  def sigmaInv(kind: MlCov, rho: Double, sigmaSq: Double,
      x: DenseMatrix[Double]): DenseMatrix[Double] = {
    val n = x.rows
    val band = precisionBand(kind, rho, n)
    val w = band.length - 1
    val out = DenseMatrix.zeros[Double](n, x.cols)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < x.cols) {
        var acc = 0.0
        var d = -w
        while (d <= w) {
          val j = i + d
          if (j >= 0 && j < n) {
            val v = if (d >= 0) band(d)(i) else band(-d)(j)
            acc += v * x(j, k)
          }
          d += 1
        }
        out(i, k) = acc / sigmaSq
        k += 1
      }
      i += 1
    }
    out
  }

  /** One SPD Cholesky of `C S C'` shared by the GLS solve, the
    * log-determinant, and the residual whitening — the per-evaluation
    * alternative to three independent dense LU factorizations of the SAME
    * matrix (`\`, `logdet`, `\` again), which dominated the large-n
    * objective cost. csct is SPD by construction (C full row rank, S SPD).
    */
  def spdSolveMat(lo: DenseMatrix[Double], rhs: DenseMatrix[Double]): DenseMatrix[Double] = {
    val n = lo.rows
    val ld = lo.data // lower-triangular, column-major, offset 0 (cholesky output)
    val out = DenseMatrix.zeros[Double](n, rhs.cols)
    val od = out.data
    var cidx = 0
    while (cidx < rhs.cols) {
      val off = cidx * n
      var i = 0
      while (i < n) { od(off + i) = rhs(i, cidx); i += 1 }
      // L y = r
      i = 0
      while (i < n) {
        var ss = od(off + i)
        var k = 0
        while (k < i) { ss -= ld(k * n + i) * od(off + k); k += 1 }
        od(off + i) = ss / ld(i * n + i)
        i += 1
      }
      // L' x = y
      i = n - 1
      while (i >= 0) {
        var ss = od(off + i)
        var k = i + 1
        while (k < n) { ss -= ld(i * n + k) * od(off + k); k += 1 }
        od(off + i) = ss / ld(i * n + i)
        i -= 1
      }
      cidx += 1
    }
    out
  }

  def spdSolveVec(lo: DenseMatrix[Double], v: DenseVector[Double]): DenseVector[Double] =
    spdSolveMat(lo, v.toDenseMatrix.t)(::, 0)

  def spdLogDet(lo: DenseMatrix[Double]): Double = {
    var ldet = 0.0
    var i = 0
    while (i < lo.rows) { ldet += math.log(lo(i, i)); i += 1 }
    2.0 * ldet
  }

  /** GLS estimator (GLS_beta_hat, ts_disagg.py:117-131) from the Cholesky
    * factor of `C S C'`: one multi-column solve serves both right-hand sides.
    */
  def glsBetaHatFromChol(
      chol: DenseMatrix[Double], y: DenseVector[Double],
      x: DenseMatrix[Double], c: DenseMatrix[Double]): DenseVector[Double] = {
    val cx = sparseRowProduct(c, x)
    val rhs = DenseMatrix.horzcat(cx, y.toDenseMatrix.t)
    val z = spdSolveMat(chol, rhs)
    val z1 = z(::, 0 until cx.cols).toDenseMatrix
    val z2 = z(::, cx.cols).toDenseVector
    val a = cx.t * z1
    val b = cx.t * z2
    a \ b
  }

  def glsBetaHatFromCsct(
      csct: DenseMatrix[Double], y: DenseVector[Double],
      x: DenseMatrix[Double], c: DenseMatrix[Double]): DenseVector[Double] =
    glsBetaHatFromChol(cholesky(csct), y, x, c)

  /** ML objective over (rho, sigma^2) (f_minimize, ts_disagg.py:134-152):
    * the negated concentrated Gaussian log-likelihood (log_likelihood,
    * ts_disagg.py:84-87) at the GLS beta. The `(1+rho)` rescaling of sigma^2
    * (ts_disagg.py:140-144) is the reference's deliberate correction to
    * match R `tempdisagg` — replicated bit-for-bit.
    */
  def negLogLikObjective(
      rho: Double, sigmaSqRaw: Double,
      y: DenseVector[Double], x: DenseMatrix[Double], c: DenseMatrix[Double],
      kind: MlCov): Double = {
    val n = x.rows
    val nl = y.length
    val sigmaSq = (1.0 + rho) * sigmaSqRaw
    val csct = csctOnly(kind, rho, sigmaSq, n, c)
    val chol = cholesky(csct)
    val beta = glsBetaHatFromChol(chol, y, x, c)
    val p = x * beta
    val ul = y - sparseRowProductVec(c, p)
    val quad = ul dot spdSolveVec(chol, ul)
    -(-nl / 2.0 * math.log(2.0 * math.Pi) - 0.5 * (spdLogDet(chol) + quad))
  }

  /** GLS standard errors `sqrt(diag((X' S^-1 X)^-1))` (ts_disagg.py:452-455),
    * using the structure-aware S^-1 application for each covariance family.
    */
  def glsStdErrors(kind: MlCov, rho: Double, sigmaSq: Double,
      x: DenseMatrix[Double]): DenseVector[Double] = {
    val sInvX = sigmaInv(kind, rho, sigmaSq, x)
    val xtsx = x.t * sInvX
    val invM = xtsx \ DenseMatrix.eye[Double](xtsx.rows)
    DenseVector.tabulate(invM.rows)(i => math.sqrt(invM(i, i)))
  }
}
