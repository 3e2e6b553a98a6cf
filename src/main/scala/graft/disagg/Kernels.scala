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
  * banded path against; the likelihood as a chain of Breeze operators
  * lives there as `graft.BreezeObjective`, the oracle of the flat
  * [[negLogLikObjective]].
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

  private[graft] def precisionBand(kind: MlCov, rho: Double, n: Int): Array[Array[Double]] = kind match {
    case ChowLinCov   => chowLinPrecisionBand(rho, n)
    case LittermanCov => littermanPrecisionBand(rho, n)
  }

  /** Banded Cholesky factor `M = L L'` of a banded SPD M given as its packed
    * lower band, flat and column-oriented: l(d * n + j) = L(j+d, j). O(n w^2).
    */
  private def bandedCholesky(band: Array[Array[Double]]): Array[Double] = {
    val w = band.length - 1
    val n = band(0).length
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
    l
  }

  /** `W <- M^-1 W` in place, for the banded factor `l` of M
    * ([[bandedCholesky]], half-bandwidth w) and a row-major n x nl work
    * buffer W: forward `L Y = W`, then backward `L' X = Y`, each row a
    * streaming update of nl-long runs. Row i of the forward pass touches only
    * its first `fwd(i)` columns, which the caller may shorten where the
    * columns past it are still +0.0 at row i; row i of the backward pass
    * touches its first `back(i)` (non-decreasing in i), which the caller may
    * shorten where nothing reads the columns past it.
    *
    * The diagonal scaling multiplies by a precomputed reciprocal: the
    * substitution is DIVISION-bound otherwise (2 n nl divides at 20-40
    * cycles each, against ~1 ulp of accuracy — well inside every tolerance
    * this kernel is checked at).
    */
  private def bandedSubstitute(
      l: Array[Double], w: Int, n: Int, nl: Int, wArr: Array[Double],
      fwd: Array[Int], back: Array[Int]): Unit = {
    val invDiag = new Array[Double](n)
    var ii = 0
    while (ii < n) { invDiag(ii) = 1.0 / l(ii); ii += 1 }
    var i = 0
    while (i < n) {
      val base = i * nl
      val kEnd = fwd(i)
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
      val kEnd = back(i)
      var d = 1
      while (d <= w && i + d < n) {
        val f = l(d * n + i)
        val src = (i + d) * nl
        var k = 0
        while (k < kEnd) { wArr(base + k) -= f * wArr(src + k); k += 1 }
        d += 1
      }
      val r = invDiag(i)
      var k = 0
      while (k < kEnd) { wArr(base + k) *= r; k += 1 }
      i -= 1
    }
  }

  /** `C M^-1` and `C M^-1 C'` for a banded SPD M given as its packed lower
    * band (band(d)(j) = M(j+d, j), d = 0..w) — the one solve behind every
    * covariance family. The banded Cholesky factor costs O(n w^2); the two
    * substitutions run VECTORIZED over the nl rows of C in a work buffer
    * W(j*nl + k) = (M^-1 C')(j, k), which is exactly C's column-major buffer
    * (one clone, no transpose): the substitution streams over nl-length
    * runs instead of walking a transposed view with a row-sized stride. The
    * same buffer, read as a column-major nl x n matrix, IS `C M^-1`
    * (M is symmetric), so it is returned without a copy. Package-visible so
    * the test-scope oracle can check it on general SPD bands with a dense
    * right-hand side.
    */
  private[graft] def bandedCmi(
      band: Array[Array[Double]],
      c0: DenseMatrix[Double]): (DenseMatrix[Double], DenseMatrix[Double]) = {
    val w = band.length - 1
    val n = band(0).length
    val cm = plain(c0)
    val nl = cm.rows
    require(cm.cols == n, s"conversion matrix cols ${cm.cols} != n $n")
    val cd = cm.data // column-major nl x n: column j (= C(:, j)) contiguous
    val wArr = cd.clone()
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
    var ii = 1
    while (ii < n) { live(ii) = math.max(live(ii), live(ii - 1)); ii += 1 }
    val all = new Array[Int](n)
    java.util.Arrays.fill(all, nl)
    bandedSubstitute(bandedCholesky(band), w, n, nl, wArr, live, all)
    // out(r, k) = sum_j C(r, j) * W(j, k). j OUTER: C's column j and W's
    // row j are both contiguous (the r-outer form reads cd with a row-sized
    // stride — pure cache misses), and out fits in L2. For each r the js
    // still arrive in ascending order. A conversion-matrix column has at
    // most one nonzero (each high-freq period maps to one low period), so
    // this is O(n nl).
    val od = new Array[Double](nl * nl)
    var j = 0
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
    val out = DenseMatrix.zeros[Double](n, rhs.cols)
    val od = out.data
    var cidx = 0
    while (cidx < rhs.cols) {
      var i = 0
      while (i < n) { od(cidx * n + i) = rhs(i, cidx); i += 1 }
      cidx += 1
    }
    // lo is cholesky's output: lower-triangular, column-major, offset 0
    spdSolveInPlace(lo.data, n, od, rhs.cols)
    out
  }

  /** `B <- G^-1 B` in place for the `m` column-major columns of `b`, with G's
    * Cholesky factor in the lower triangle of the column-major `l`: per
    * column, forward then backward substitution, each entry's terms
    * subtracted in ascending order and divided by the pivot.
    */
  private def spdSolveInPlace(l: Array[Double], nl: Int, b: Array[Double], m: Int): Unit = {
    var q = 0
    while (q < m) {
      val zb = q * nl
      var jj = 0
      while (jj < nl) {
        val cj = jj * nl
        val z = b(zb + jj) / l(cj + jj)
        b(zb + jj) = z
        var p = jj + 1
        while (p < nl) { b(zb + p) -= z * l(cj + p); p += 1 }
        jj += 1
      }
      var i = nl - 1
      while (i >= 0) {
        val ci = i * nl
        var s = b(zb + i)
        var p = i + 1
        while (p < nl) { s -= l(ci + p) * b(zb + p); p += 1 }
        b(zb + i) = s / l(ci + i)
        i -= 1
      }
      q += 1
    }
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
    *
    * The optimizer calls this thousands of times per fit, so it is one flat
    * pass over primitive arrays with no Breeze operator:
    *  1. one scan of C for each column's nonzero (row, value), which also
    *     fills `C X`. A column with two nonzeros fails a `require`
    *     ([[DisaggCore.buildConversionMatrix]] puts at most one in each);
    *  2. the banded Cholesky of the precision M and both substitutions,
    *     `W = M^-1 C'`, only over the columns the lower triangle of
    *     `C M^-1 C'` reads (see below);
    *  3. `G = s2 C M^-1 C'` (lower triangle), and `G = L L'` by LAPACK
    *     `dpotrf` on the flat buffer: the routine `breeze.linalg.cholesky`
    *     calls, without its symmetry scan and copies, and the same
    *     `NotConvergedException` where G is not positive definite;
    *  4. one multi-RHS solve `G^-1 [C X | y]` for the GLS beta, then the
    *     residual `y - C X beta`, its solve and its quadratic form.
    *
    * Every step does the arithmetic of the Breeze-operator chain it
    * replaces (`graft.BreezeObjective` in test scope), in the same order and
    * through the same BLAS and LAPACK calls for the k x k normal equations,
    * so the value is the same to the bit and so is every fit's path through
    * the optimizer: which fits run to the iteration limit depends on
    * rounding at that level.
    *
    * Entry (r, k <= r) of `C M^-1 C'` reads W(j, k) only at the columns j of
    * row r, so column k of W is needed from row jmin(k) = min over r >= k of
    * the first column of row r on. Row i of both substitutions therefore
    * touches only the columns k with jmin(k) <= i, a prefix since jmin is
    * non-decreasing; above jmin(k), column k of `C'` is still +0.0.
    */
  def negLogLikObjective(
      rho: Double, sigmaSqRaw: Double,
      y: DenseVector[Double], x: DenseMatrix[Double], c: DenseMatrix[Double],
      kind: MlCov): Double = {
    val n = x.rows
    val nl = y.length
    val k = x.cols
    require(c.rows == nl && c.cols == n, s"conversion matrix ${c.rows}x${c.cols}, expected ${nl}x$n")
    val sigmaSq = (1.0 + rho) * sigmaSqRaw
    val cd = plain(c).data
    val xd = plain(x).data
    // 1. C's nonzeros, C X into the first k columns of the right-hand sides
    val rowOf = new Array[Int](n)
    val cv = new Array[Double](n)
    val first = new Array[Int](nl) // first column of each row, n if none
    java.util.Arrays.fill(first, n)
    val nr = k + 1
    val rhs = new Array[Double](nl * nr) // [C X | y], column-major
    var j = 0
    while (j < n) {
      val base = j * nl
      var row = -1
      var r = 0
      while (r < nl) {
        if (cd(base + r) != 0.0) {
          require(row < 0, s"conversion matrix column $j has more than one nonzero")
          row = r
        }
        r += 1
      }
      rowOf(j) = row
      if (row >= 0) {
        val v = cd(base + row)
        cv(j) = v
        if (first(row) == n) first(row) = j
        var q = 0
        while (q < k) { rhs(q * nl + row) += v * xd(q * n + j); q += 1 }
      }
      j += 1
    }
    var i = 0
    while (i < nl) { rhs(k * nl + i) = y(i); i += 1 }
    // 2. W = M^-1 C' over the live prefix of each row
    val live = new Array[Int](n)
    var jmin = n
    var r = nl - 1
    while (r >= 0) {
      jmin = math.min(jmin, first(r))
      if (jmin < n) live(jmin) = math.max(live(jmin), r + 1)
      r -= 1
    }
    i = 1
    while (i < n) { live(i) = math.max(live(i), live(i - 1)); i += 1 }
    val band = precisionBand(kind, rho, n)
    val wArr = new Array[Double](n * nl) // row-major n x nl
    j = 0
    while (j < n) { if (rowOf(j) >= 0) wArr(j * nl + rowOf(j)) = cv(j); j += 1 }
    bandedSubstitute(bandedCholesky(band), band.length - 1, n, nl, wArr, live, live)
    // 3. G's lower triangle row by row, g(r * nl + q) = (C W)(r, q), summed
    // over ascending j; then written, times s2, into the upper half as
    // column-major lower, so each Cholesky column below is contiguous
    val g = new Array[Double](nl * nl)
    j = 0
    while (j < n) {
      val row = rowOf(j)
      if (row >= 0) {
        val v = cv(j)
        val gb = row * nl
        val wb = j * nl
        var q = 0
        while (q <= row) { g(gb + q) += v * wArr(wb + q); q += 1 }
      }
      j += 1
    }
    r = 0
    while (r < nl) {
      var q = 0
      while (q < r) { g(q * nl + r) = g(r * nl + q) * sigmaSq; q += 1 }
      g(r * nl + r) *= sigmaSq
      r += 1
    }
    val lapack = dev.ludovic.netlib.lapack.LAPACK.getInstance()
    val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
    val info = new org.netlib.util.intW(0)
    lapack.dpotrf("L", nl, g, nl, info)
    if (info.`val` > 0) throw new NotConvergedException(NotConvergedException.Iterations)
    var logDet = 0.0
    i = 0
    while (i < nl) { logDet += math.log(g(i * nl + i)); i += 1 }
    // 4. beta from Z = G^-1 [C X | y]: A = (C X)' Z1, b = (C X)' z2, A \ b
    val cx = java.util.Arrays.copyOf(rhs, nl * k)
    spdSolveInPlace(g, nl, rhs, nr)
    val a = new Array[Double](k * k)
    blas.dgemm("T", "N", k, k, nl, 1.0, cx, 0, nl, rhs, 0, nl, 0.0, a, 0, k)
    val beta = new Array[Double](k)
    blas.dgemv("T", nl, k, 1.0, cx, 0, nl, rhs, k * nl, 1, 0.0, beta, 0, 1)
    lapack.dgesv(k, 1, a, 0, k, new Array[Int](k), 0, beta, 0, k, info)
    if (info.`val` > 0) throw new MatrixSingularException()
    // 5. the residual ul = y - C (X beta) and its quadratic form ul' G^-1 ul
    val p = new Array[Double](n)
    blas.dgemv(if (x.isTranspose) "T" else "N", if (x.isTranspose) x.cols else x.rows,
      if (x.isTranspose) x.rows else x.cols, 1.0, x.data, x.offset, x.majorStride, beta, 0, 1, 0.0, p, 0, 1)
    val ul = new Array[Double](nl)
    j = 0
    while (j < n) { if (rowOf(j) >= 0) ul(rowOf(j)) += cv(j) * p(j); j += 1 }
    i = 0
    while (i < nl) { ul(i) = y(i) - ul(i); i += 1 }
    val sol = ul.clone()
    spdSolveInPlace(g, nl, sol, 1)
    val quad =
      if (nl < 8) breeze.linalg.operators.DenseVectorSupportMethods.smallDotProduct_Double(ul, sol, nl)
      else breeze.linalg.operators.DenseVectorSupportMethods.dotProduct_Double(ul, 0, sol, 0, nl)
    -(-nl / 2.0 * math.log(2.0 * math.Pi) - 0.5 * (2.0 * logDet + quad))
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
