package graft

import breeze.linalg.{DenseMatrix, DenseVector, cholesky, logdet, max}
import breeze.numerics.abs
import org.scalatest.funsuite.AnyFunSuite

import graft.disagg.{AggFunc, DisaggCore, Kernels, Optimizer, TsFrame}
import graft.time.Frequency

/** Kernel unit tests against the reference's inline R-derived goldens
  * (tests/test_computations.py), and the banded production kernels against
  * their dense oracle, [[DenseKernels]].
  */
class KernelsSpec extends AnyFunSuite {

  def assertMatClose(got: DenseMatrix[Double], want: Array[Array[Double]], tol: Double): Unit = {
    assert(got.rows == want.length && got.cols == want.head.length)
    for (i <- want.indices; j <- want(i).indices)
      assert(math.abs(got(i, j) - want(i)(j)) <= tol * math.abs(want(i)(j)) + 1e-6,
        s"($i,$j): ${got(i, j)} != ${want(i)(j)}")
  }

  /** The covariance itself through the production path: `C S C'` with C = I. */
  def bandedSigma(kind: Kernels.MlCov, n: Int): DenseMatrix[Double] =
    Kernels.covProducts(kind, 0.95, 1.0, n, DenseMatrix.eye[Double](n)).csct

  /** Symmetric dense matrix from a packed lower band (band(d)(j) = M(j+d, j)). */
  def unband(band: Array[Array[Double]]): DenseMatrix[Double] = {
    val n = band(0).length
    DenseMatrix.tabulate(n, n) { (i, j) =>
      val d = math.abs(i - j)
      if (d < band.length) band(d)(math.min(i, j)) else 0.0
    }
  }

  def relErr(got: DenseMatrix[Double], want: DenseMatrix[Double]): Double = {
    assert(got.rows == want.rows && got.cols == want.cols, s"shape ${got.rows}x${got.cols}")
    max(abs(got - want)) / max(abs(want))
  }

  def relErr(got: DenseVector[Double], want: DenseVector[Double]): Double =
    relErr(got.toDenseMatrix, want.toDenseMatrix)

  test("chow-lin covariance 3x3 at rho=0.95 (test_computations.py:14-24)") {
    val want = Array(
      Array(10.25641, 9.74359, 9.25641),
      Array(9.74359, 10.25641, 9.74359),
      Array(9.25641, 9.74359, 10.25641))
    assertMatClose(DenseKernels.chowLinCovariance(0.95, 1.0, 3), want, 1e-6)
    assertMatClose(bandedSigma(Kernels.ChowLinCov, 3), want, 1e-6)
  }

  test("litterman covariance 5x5 at rho=0.95 vs tempdisagg:::CalcQ_Lit (:27-39)") {
    val want = Array(
      Array(1.000000, 1.950000, 2.852500, 3.709875, 4.524381),
      Array(1.950000, 4.802500, 7.512375, 10.086756, 12.532418),
      Array(2.852500, 7.512375, 12.939256, 18.094793, 22.992554),
      Array(3.709875, 10.086756, 18.094793, 26.702429, 34.879682),
      Array(4.524381, 12.532418, 22.992554, 34.879682, 47.172454))
    assertMatClose(DenseKernels.littermanCovariance(0.95, 1.0, 5), want, 1e-6)
    assertMatClose(bandedSigma(Kernels.LittermanCov, 5), want, 1e-6)
  }

  test("difference matrix and denton covariance shapes") {
    val d1 = DenseKernels.differenceMatrix(4, 1)
    assert(d1(0, 0) == 1.0 && d1(1, 0) == -1.0 && d1(1, 1) == 1.0 && d1(0, 1) == 0.0)
    val d2 = DenseKernels.differenceMatrix(4, 2)
    assert(d2(2, 0) == 1.0 && d2(2, 1) == -2.0 && d2(2, 2) == 1.0)
    val cov = DenseKernels.dentonCovariance(6, DenseVector.ones[Double](6), 1, proportional = true)
    assert(cov.rows == 6 && cov.cols == 6)
  }

  test("litterman fast path (pentadiagonal precision) equals the dense covariance") {
    val n = 7
    val rho = 0.7
    val s2 = 1.3
    val slow = DenseKernels.littermanCovariance(rho, s2, n)
    val c = DenseMatrix.tabulate(2, n)((i, j) => if (j / 4 == i) 1.0 else 0.0)
    val fast = Kernels.covProducts(Kernels.LittermanCov, rho, s2, n, c)
    val wantCs = c * slow
    val wantCsct = wantCs * c.t
    for (i <- 0 until 2; j <- 0 until n)
      assert(math.abs(fast.cSigma(i, j) - wantCs(i, j)) < 1e-8, s"cSigma($i,$j)")
    for (i <- 0 until 2; j <- 0 until 2)
      assert(math.abs(fast.csct(i, j) - wantCsct(i, j)) < 1e-8, s"csct($i,$j)")
  }

  test("GLS beta-hat vs tempdisagg:::CalcGLS golden (:42-67)") {
    val (lowTs, lowV) = Fixtures.datedValues("AL_Annual_Data_Shorter.csv")
    val (highTs, highV) = Fixtures.datedValues("AL_Quarterly_Data_Modified.csv")

    val lowFreq = Frequency.infer(lowTs).get
    assert(lowFreq.name == "YS-DEC")
    assert(Frequency.infer(highTs).map(_.name) == Some("QS-DEC"))

    val c0 = DisaggCore.buildConversionMatrix(lowTs, lowFreq, highTs, 4, "last")
    // data isn't aligned: tempdisagg drops the first low-frequency observation
    val c = c0(1 until c0.rows, ::).toDenseMatrix
    val y = DenseVector(lowV.drop(1))
    val n = highTs.length
    val x = DenseMatrix.tabulate(n, 2)((i, j) => if (j == 0) 1.0 else highV(i))

    val want = Array(908.6679748, 0.9772889)
    val csct = Kernels.covProducts(Kernels.ChowLinCov, 0.95, 1.0, n, c).csct
    Fixtures.assertAllClose(Kernels.glsBetaHatFromCsct(csct, y, x, c).toArray, want, 1e-6, "GLS beta")
    val dense = DenseKernels.glsBetaHat(DenseKernels.chowLinCovariance(0.95, 1.0, n), y, x, c)
    Fixtures.assertAllClose(dense.toArray, want, 1e-6, "dense GLS beta")
  }

  test("chow-lin tridiagonal precision is the exact inverse of the Toeplitz covariance") {
    for (rho <- Seq(1e-5, 0.3, 0.63, 0.95, 1.0 - 1e-5); n <- Seq(1, 2, 7, 40)) {
      val s2 = 2.1
      val sigma = DenseKernels.chowLinCovariance(rho, s2, n)
      val prec = DenseKernels.chowLinPrecision(rho, n) / s2
      val err = max(abs(sigma * prec - DenseMatrix.eye[Double](n)))
      assert(err < 1e-8, s"rho=$rho n=$n max |Sigma*Prec - I| = $err")
    }
  }

  test("bandedSpdSolve matches the dense solve on seeded SPD banded systems") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(5, 23, 60); w <- Seq(1, 2, 3)) {
      // SPD banded with half-bandwidth w: A = B B' + n*I, B lower-banded
      val b = DenseMatrix.zeros[Double](n, n)
      for (i <- 0 until n; j <- math.max(0, i - w) to i) b(i, j) = rnd.nextDouble() - 0.5
      val a = b * b.t + DenseMatrix.eye[Double](n) * n.toDouble
      val rhs = DenseMatrix.tabulate(n, 3)((_, _) => rnd.nextDouble())
      val dense = a \ rhs
      val banded = DenseKernels.bandedSpdSolve(a, w, rhs)
      val err = max(abs(dense - banded))
      assert(err < 1e-9, s"n=$n w=$w max diff $err")
    }
  }

  test("shared-Cholesky SPD helpers match dense solve and logdet") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(4, 17, 40)) {
      val b = DenseMatrix.tabulate(n, n)((_, _) => rnd.nextDouble() - 0.5)
      val a = b * b.t + DenseMatrix.eye[Double](n) * n.toDouble
      val chol = cholesky(a)
      val rhs = DenseMatrix.tabulate(n, 2)((_, _) => rnd.nextDouble())
      val errM = max(abs((a \ rhs) - Kernels.spdSolveMat(chol, rhs)))
      assert(errM < 1e-9, s"n=$n spdSolveMat diff $errM")
      val v = DenseVector.tabulate(n)(_ => rnd.nextDouble())
      val errV = max(abs((a \ v) - Kernels.spdSolveVec(chol, v)))
      assert(errV < 1e-9, s"n=$n spdSolveVec diff $errV")
      val ldErr = math.abs(logdet(a)._2 - Kernels.spdLogDet(chol))
      assert(ldErr < 1e-9, s"n=$n logdet diff $ldErr")
      // packed precision bands against their definitions
      for (rho <- Seq(0.3, 0.95)) {
        val sigma = DenseKernels.chowLinCovariance(rho, 1.0, n)
        val errB = max(abs(sigma * unband(Kernels.chowLinPrecisionBand(rho, n)) - DenseMatrix.eye[Double](n)))
        assert(errB < 1e-8, s"chow-lin rho=$rho n=$n max |Sigma*band - I| = $errB")
        val errL = relErr(unband(Kernels.littermanPrecisionBand(rho, n)), DenseKernels.littermanPrecision(rho, n))
        assert(errL < 1e-14, s"litterman rho=$rho n=$n band vs (HD)'(HD) rel diff $errL")
      }
    }
  }

  /** The full n x nl distribution matrix of an apply form: column k is D e_k. */
  def appliedMatrix(nl: Int)(apply: DenseVector[Double] => DenseVector[Double]): DenseMatrix[Double] = {
    val cols = (0 until nl).map { k =>
      val e = DenseVector.zeros[Double](nl)
      e(k) = 1.0
      apply(e).toDenseMatrix.t
    }
    DenseMatrix.horzcat(cols: _*)
  }

  test("banded denton distribution equals the dense-inverse formulation") {
    val n = 20
    val x = DenseVector.tabulate(n)(i => 40.0 + 3.0 * math.sin(i * 0.4) + 0.5 * i)
    val c = DenseMatrix.zeros[Double](5, n)
    for (r <- 0 until 5; j <- 0 until 4) c(r, r * 4 + j) = 1.0
    for (h <- Seq(1, 2); prop <- Seq(true, false)) {
      val dense = DenseKernels.distributionMatrix(
        DenseKernels.dentonCovariance(n, x, h, prop), c)
      val banded = appliedMatrix(c.rows)(Kernels.dentonApply(n, x, h, prop, c, _))
      val err = max(abs(dense - banded))
      assert(err < 1e-8, s"h=$h prop=$prop max diff $err")
    }
  }

  test("banded denton-cholette KKT equals the dense KKT across agg shapes") {
    val n = 48
    val nl = 11 // one incomplete trailing period left out, like the real mask
    val x = DenseVector.tabulate(n)(i => 40.0 + 3.0 * math.sin(i * 0.4) + 0.5 * i)
    // sum-style C (1s over factor-4 blocks), mean-style (1/4), first/last
    // (single entry at block start/end)
    def blockC(fill: (Int, Int) => Seq[(Int, Double)]): DenseMatrix[Double] = {
      val c = DenseMatrix.zeros[Double](nl, n)
      for (r <- 0 until nl; (j, v) <- fill(r, 4)) c(r, j) = v
      c
    }
    val shapes = Seq(
      "sum" -> blockC((r, f) => (0 until f).map(j => (r * f + j, 1.0))),
      "mean" -> blockC((r, f) => (0 until f).map(j => (r * f + j, 0.25))),
      "first" -> blockC((r, f) => Seq((r * f, 1.0))),
      "last" -> blockC((r, f) => Seq((r * f + f - 1, 1.0))))
    for ((name, c) <- shapes; h <- Seq(1, 2); prop <- Seq(true, false)) {
      val dense = DenseKernels.dentonCholetteDistributionDense(n, nl, c, x, h, prop)
      val banded = appliedMatrix(nl)(Kernels.dentonCholetteApply(n, nl, c, x, h, prop, _))
      val scale = max(abs(dense))
      val err = max(abs(dense - banded)) / scale
      assert(err < 1e-8, s"agg=$name h=$h prop=$prop max rel diff $err")
    }
  }

  test("sparse C products are bit-identical to a naive triple loop") {
    val n = 48
    val rnd = new scala.util.Random(20261019)
    def blockC(nl: Int)(fill: (Int, Int) => Seq[(Int, Double)]): DenseMatrix[Double] = {
      val c = DenseMatrix.zeros[Double](nl, n)
      for (r <- 0 until nl; (j, v) <- fill(r, 4)) c(r, j) = v
      c
    }
    val fills: Seq[(String, (Int, Int) => Seq[(Int, Double)])] = Seq(
      "sum" -> ((r, f) => (0 until f).map(j => (r * f + j, 1.0))),
      "mean" -> ((r, f) => (0 until f).map(j => (r * f + j, 1.0 / f))),
      "first" -> ((r, f) => Seq((r * f, 1.0))),
      "last" -> ((r, f) => Seq((r * f + f - 1, 1.0))))
    // the same matrix as a transposed view and as an offset slice
    def views(c: DenseMatrix[Double]): Seq[(String, DenseMatrix[Double])] = {
      val big = DenseMatrix.fill(c.rows + 3, c.cols + 2)(rnd.nextGaussian())
      big(2 until 2 + c.rows, 1 until 1 + c.cols) := c
      Seq("plain" -> c, "transposed" -> c.t.copy.t,
        "offset" -> big(2 until 2 + c.rows, 1 until 1 + c.cols))
    }
    val bits = (a: Iterable[Double]) => a.map(java.lang.Double.doubleToRawLongBits).toSeq
    for ((agg, fill) <- fills; dropped <- Seq(false, true)) {
      val full = blockC(12)(fill)
      // a dropped row, as DisaggCore drops an incomplete period's row
      val c0 = if (dropped) DenseMatrix.vertcat(full(0 until 5, ::), full(6 until 12, ::)) else full
      for ((view, c) <- views(c0); k <- Seq(1, 3)) {
        val what = s"agg=$agg dropped=$dropped view=$view k=$k"
        assert(c(0, 0) == c0(0, 0) && c.rows == c0.rows && c.cols == n, what)
        val m = DenseMatrix.fill(n, k)(rnd.nextGaussian() * 100.0)
        val v = DenseVector.fill(n)(rnd.nextGaussian() * 100.0)
        val want = DenseMatrix.tabulate(c.rows, k) { (i, kk) =>
          var acc = 0.0
          for (j <- 0 until n) acc += c(i, j) * m(j, kk)
          acc
        }
        val wantVec = DenseVector.tabulate(c.rows) { i =>
          var acc = 0.0
          for (j <- 0 until n) acc += c(i, j) * v(j)
          acc
        }
        assert(bits(Kernels.sparseRowProduct(c, m).toArray) == bits(want.toArray), what)
        assert(bits(Kernels.sparseRowProduct(c, m.t.copy.t).toArray) == bits(want.toArray), s"$what, m transposed")
        assert(bits(Kernels.sparseRowProductVec(c, v).toArray) == bits(wantVec.toArray), s"$what, vector")
      }
    }
  }

  /** Every banded production kernel against its dense oracle, over a seeded
    * sweep of real calendars: frequency ratio 3 (Q->M), 4 (Y->Q) and 12
    * (Y->M), with and without a trailing incomplete low period (whose
    * all-zero C row is dropped, as DisaggCore.run drops it), every agg, rho
    * from near 0 to 0.95, h in {1, 2} and both criteria. Series stay short
    * enough (n <= 107) that the dense inverses are themselves accurate to
    * well below the 1e-8 relative bound.
    */
  test("banded kernels equal the dense oracle over (n, rho, factor, agg, h, criterion)") {
    val rnd = new scala.util.Random(20240517)
    val calendars = Seq(("QS", "MS", 3), ("YS", "QS", 4), ("YS", "MS", 12))
    val tol = 1e-8
    for ((lowF, highF, f) <- calendars; trailing <- Seq(false, true); agg <- AggFunc.all) {
      val nl = 3 + rnd.nextInt(if (f == 12) 6 else 12)
      val extra = if (trailing) 1 + rnd.nextInt(f - 1) else 0
      val lowFreq = Frequency.parseValidated(lowF)
      val lowTs = Fixtures.freqDates("1990-01-01", lowF, nl + (if (trailing) 1 else 0))
      val highTs = Fixtures.freqDates("1990-01-01", highF, nl * f + extra)
      val c0 = DisaggCore.buildConversionMatrix(lowTs, lowFreq, highTs, f, agg)
      val keep = (0 until c0.rows).filter(i => (0 until c0.cols).exists(j => c0(i, j) != 0.0))
      val c = DenseMatrix.tabulate(keep.length, c0.cols)((i, j) => c0(keep(i), j))
      assert(c.rows == nl, s"$lowF->$highF trailing=$trailing kept ${c.rows} of ${c0.rows} rows")
      val n = highTs.length
      val x = DenseVector.tabulate(n)(i => 40.0 + 3.0 * math.sin(i * 0.4) + 0.5 * i + rnd.nextDouble())
      val xm = DenseMatrix.horzcat(DenseMatrix.ones[Double](n, 1), x.toDenseMatrix.t)
      val y = c * (xm * DenseVector(10.0, 2.0)) + DenseVector.fill(nl)(5.0 * rnd.nextGaussian())
      val shape = s"$lowF->$highF n=$n nl=$nl agg=$agg"

      for (rho <- Seq(1e-5, 0.3, 0.63, 0.95); kind <- Seq(Kernels.ChowLinCov, Kernels.LittermanCov)) {
        val s2 = 0.5 + rnd.nextDouble()
        val what = s"$shape $kind rho=$rho"
        val sigma = DenseKernels.covariance(kind, rho, s2, n)
        val prod = Kernels.covProducts(kind, rho, s2, n, c)
        val errCs = relErr(prod.cSigma, c * sigma)
        assert(errCs < tol, s"$what C Sigma rel diff $errCs")
        val errCsct = relErr(prod.csct, c * sigma * c.t)
        assert(errCsct < tol, s"$what C Sigma C' rel diff $errCsct")
        val obj = Kernels.negLogLikObjective(rho, s2, y, xm, c, kind)
        val want = DenseKernels.fMinimize(rho, s2, y, xm, c, kind)
        assert(math.abs(obj - want) <= tol * math.abs(want), s"$what objective $obj vs dense $want")
        val se = Kernels.glsStdErrors(kind, rho, s2, xm)
        val seWant = DenseKernels.glsStdErrors(sigma, xm)
        for (i <- 0 until se.length)
          assert(math.abs(se(i) - seWant(i)) <= tol * seWant(i), s"$what std error $i: ${se(i)} vs ${seWant(i)}")
      }

      val ul = y - c * x
      for (h <- Seq(1, 2); prop <- Seq(true, false)) {
        val what = s"$shape h=$h proportional=$prop"
        val dentonWant = DenseKernels.distributionMatrix(DenseKernels.dentonCovariance(n, x, h, prop), c) * ul
        val errD = relErr(Kernels.dentonApply(n, x, h, prop, c, ul), dentonWant)
        assert(errD < tol, s"$what denton D ul rel diff $errD")
        val dcWant = DenseKernels.dentonCholetteDistributionDense(n, nl, c, x, h, prop) * ul
        val errDc = relErr(Kernels.dentonCholetteApply(n, nl, c, x, h, prop, ul), dcWant)
        assert(errDc < tol, s"$what denton-cholette D ul rel diff $errDc")
      }
    }
  }

  test("conversion matrix row sums and groupBy equivalence (test_disaggregation.py:96-139)") {
    val lowTs = Fixtures.freqDates("2001-01-01", "YS", 5)
    val highTs = Fixtures.freqDates("2001-01-01", "QS", 20)
    for (agg <- Seq("sum", "mean", "first", "last")) {
      val c = DisaggCore.buildConversionMatrix(lowTs, Frequency.parseValidated("YS"), highTs, 4, agg)
      assert(c.rows == 5 && c.cols == 20)
      val rowSums = (0 until c.rows).map(i => (0 until c.cols).map(j => c(i, j)).sum)
      if (agg == "sum") assert(math.abs(rowSums.max - 4.0) < 1e-12)
      else assert(math.abs(rowSums.max - 1.0) < 1e-12)
      // matrix action == grouped aggregation over a ramp series
      val v = Array.tabulate(20)(_.toDouble + 1.0)
      val got = (0 until c.rows).map(i => (0 until c.cols).map(j => c(i, j) * v(j)).sum)
      val grouped = v.grouped(4).toArray
      val want = agg match {
        case "sum"   => grouped.map(_.sum)
        case "mean"  => grouped.map(g => g.sum / g.length)
        case "first" => grouped.map(_.head)
        case "last"  => grouped.map(_.last)
      }
      Fixtures.assertAllClose(got.toArray, want, 1e-12, s"C action $agg")
    }
  }

  test("incomplete high-freq groups produce all-zero C rows (ts_disagg.py:34-35)") {
    val lowTs = Fixtures.freqDates("2001-01-01", "YS", 3)
    val highTs = Fixtures.freqDates("2001-01-01", "QS", 10) // last year only has 2 quarters
    val c = DisaggCore.buildConversionMatrix(lowTs, Frequency.parseValidated("YS"), highTs, 4, "sum")
    assert((0 until c.cols).forall(j => c(2, j) == 0.0))
    assert((0 until c.cols).map(j => c(0, j)).sum == 4.0)
  }

  test("optimizer finds the bounded minimum of a smooth 2-d bowl") {
    val f = (p: Array[Double]) => {
      val a = p(0) - 0.3
      val b = p(1) - 2.0
      a * a + b * b + 0.5 * a * b
    }
    for (m <- Seq("nelder-mead", "powell", "l-bfgs-b")) {
      val r = graft.disagg.Optimizer.minimize(m, f, Array(0.8, 0.8),
        Array(1e-5, 1e-5), Array(1 - 1e-5, 1e10))
      assert(math.abs(r.x(0) - 0.3) < 1e-5, s"$m rho: ${r.x(0)}")
      assert(math.abs(r.x(1) - 2.0) < 1e-5, s"$m sigma: ${r.x(1)}")
    }
  }

  /** `DisaggCore.run`'s public steps, composed in its order the way the
    * benchmark's traced replay composes them (prepareInputs,
    * buildConversionMatrix, the all-zero-row drop with NaN-free y and X,
    * then the denton-cholette apply or the Nelder-Mead ML fit, covProducts,
    * the GLS beta and the GLS apply). A traced benchmark run is only valid
    * while this is `run`, bit for bit.
    */
  def replaySteps(low: TsFrame, high: Option[TsFrame], method: String,
      targetFreq: Option[String]): Array[Double] = {
    val prep = DisaggCore.prepareInputs(low, high, targetFreq, method)
    val c0 = DisaggCore.buildConversionMatrix(prep.low.ts, prep.lowFreq, prep.high.ts, prep.factor, "sum")
    val drop = Array.tabulate(c0.rows)(i => (0 until c0.cols).forall(j => c0(i, j) == 0.0))
    val yFull = prep.merged.data(0).filterNot(_.isNaN)
    val keep = (0 until yFull.length).filterNot(drop)
    val c = if (!drop.contains(true)) c0
      else DenseMatrix.tabulate(keep.length, c0.cols)((i, j) => c0(keep(i), j))
    val xCols = prep.merged.columns.indices.drop(1)
    val x = DenseMatrix.tabulate(prep.merged.nRows, xCols.length)((i, j) => prep.merged.data(xCols(j))(i))
    val y = DenseVector(keep.map(yFull).toArray)
    val n = x.rows
    val (p, applyD) = method match {
      case "denton-cholette" =>
        val xv = x(::, 0)
        (xv.copy, (ul: DenseVector[Double]) => Kernels.dentonCholetteApply(n, y.length, c, xv, 1, true, ul))
      case _ =>
        val kind = if (method == "chow-lin") Kernels.ChowLinCov else Kernels.LittermanCov
        val res = Optimizer.minimize("nelder-mead",
          (params: Array[Double]) => Kernels.negLogLikObjective(params(0), params(1), y, x, c, kind),
          Array(0.8, 0.8), lower = Array(1e-5, 1e-5), upper = Array(1.0 - 1e-5, 1e300))
        val prod = Kernels.covProducts(kind, res.x(0), res.x(1), n, c)
        val beta = Kernels.glsBetaHatFromCsct(prod.csct, y, x, c)
        (x * beta, (ul: DenseVector[Double]) => prod.cSigma.t * (prod.csct \ ul))
    }
    val ul = y - Kernels.sparseRowProductVec(c, p)
    (p + applyD(ul)).toArray
  }

  test("DisaggCore.run is its public steps composed, bit for bit") {
    val bits = (a: Array[Double]) => a.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val rnd = new scala.util.Random(20261020)
    def walk(n: Int, start: Double, drift: Double, vol: Double): Array[Double] =
      Array.iterate(start * math.exp(drift + vol * rnd.nextGaussian()), n)(
        v => v * math.exp(drift + vol * rnd.nextGaussian()))
    // BASELINE.md's shapes: 36 annual values; denton-cholette A->Q n=144,
    // chow-lin A->Q n=158 k=2, litterman A->M n=474 k=2
    val years = Fixtures.freqDates("1980-01-01", "YS", 36)
    def indicatorShape(n: Int, factor: Int, highFreq: String, integrated: Boolean): (TsFrame, TsFrame) = {
      val ind = walk(n, 100.0, 0.008 * 4 / factor, 0.02)
      var e = 0.0
      var u = 0.0
      val hf = ind.map { v =>
        e = 0.5 * e + rnd.nextGaussian()
        u = if (integrated) u + e else e
        2.5 * v + u
      }
      val low = Fixtures.frame(years, "value" -> Array.tabulate(36)(yr => hf.slice(yr * factor, (yr + 1) * factor).sum))
      val high = Fixtures.frame(Fixtures.freqDates("1980-01-01", highFreq, n),
        "indicator" -> ind, "constant" -> Array.fill(n)(1.0))
      (low, high)
    }
    val (clLow, clHigh) = indicatorShape(158, 4, "QS", integrated = false)
    val (ltLow, ltHigh) = indicatorShape(474, 12, "MS", integrated = true)
    // manySeries-style series: 5-9 years from 1990-2009 to quarterly
    val many = (0 until 200).map { i =>
      val nyr = 5 + rnd.nextInt(5)
      val v = Array.tabulate(nyr)(pos => 100.0 + rnd.nextInt(10000) / 100.0 + pos * 5.0)
      (s"many[$i]", Fixtures.frame(Fixtures.freqDates(s"${1990 + rnd.nextInt(20)}-01-01", "YS", nyr), "value" -> v),
        None, "denton-cholette", Some("QS"))
    }
    val cases = Seq(
      ("dc A->Q", Fixtures.frame(years, "value" -> walk(36, 1000.0, 0.03, 0.05)), None, "denton-cholette", Some("QS")),
      ("chow-lin A->Q", clLow, Some(clHigh), "chow-lin", None),
      ("litterman A->M", ltLow, Some(ltHigh), "litterman", None)) ++ many
    for ((name, low, high, method, targetFreq) <- cases) {
      val want = DisaggCore.run(low, high, targetFreq, aggFunc = "sum", method = method).values
      assert(bits(replaySteps(low, high, method, targetFreq)) == bits(want), name)
    }
  }
}
