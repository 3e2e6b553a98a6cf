package graft.disagg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.commons.math3.distribution.TDistribution

/** GLS regression report (print_regression_report,
  * /root/reference/tsdisagg/ts_disagg.py:179-210). Print-only — no golden
  * output depends on it. Student-t probabilities come from commons-math3's
  * `TDistribution`; with no degrees of freedom left (df <= 0, tiny inputs)
  * they read NaN, so a verbose run never fails on the report.
  */
object Report {

  /** Student-t survival function P(T > t), df degrees of freedom. */
  def tSf(t: Double, df: Double): Double =
    if (df > 0) new TDistribution(df).cumulativeProbability(-t) else Double.NaN

  /** Student-t quantile: the t with P(T <= t) = p. */
  def tPpf(p: Double, df: Double): Double =
    if (df > 0) new TDistribution(df).inverseCumulativeProbability(p) else Double.NaN

  def printRegressionReport(
      targetName: String,
      y: DenseVector[Double],
      x: DenseMatrix[Double],
      xNames: Seq[String],
      beta: Array[Double],
      rho: Double,
      sigmaSq: Double,
      stdBeta: Array[Double],
      c: DenseMatrix[Double],
      method: String): Unit = {
    val nObs = x.rows
    val k = x.cols
    val params = beta :+ rho :+ sigmaSq
    val degF = nObs - params.length
    println(s"Dependent Variable: $targetName")
    println(s"GLS Estimates using ${method.capitalize}'s covariance matrix")
    println(s"N = $nObs\t\tdf = $degF")

    val ul = y - c * (x * DenseVector(beta))
    val yMean = breeze.stats.mean(y)
    // reference mixes conventions (ts_disagg.py:188): np.var(ul) is the
    // POPULATION variance, (y - y.mean()).var() is pandas' SAMPLE variance
    val nl = ul.length
    val ulMean = breeze.stats.mean(ul)
    val ssRes = breeze.linalg.sum((ul - ulMean).map(v => v * v)) / nl
    val ssTot = breeze.stats.variance(y - yMean)
    val r2 = 1.0 - ssRes / ssTot
    val adjR2 = 1.0 - (1.0 - r2) * (nObs - 1.0) / (nObs - k - 1.0)
    println(f"Adj r2 = $adjR2%1.4f")
    println("")
    println(f"${"Variable"}%-15s${"coef"}%10s${"sd err"}%15s${"t"}%15s${"P > |t|"}%15s${"[0.025"}%15s${"0.975]"}%15s")
    println("-" * 100)
    val t05 = tPpf(1.0 - 0.05 / 2.0, degF.toDouble)
    for (i <- beta.indices) {
      val tStat = beta(i) / stdBeta(i)
      val pValue = tSf(math.abs(tStat), degF.toDouble)
      val ciLow = beta(i) - stdBeta(i) * t05
      val ciHigh = beta(i) + stdBeta(i) * t05
      val name = if (i < xNames.length) xNames(i) else s"x$i"
      println(f"$name%-15s${beta(i)}%10.4f${stdBeta(i)}%15.4f$tStat%15.4f$pValue%15.4f$ciLow%15.4f$ciHigh%15.4f")
    }
    println("")
    println(f"${"rho"}%-15s$rho%10.4f")
    println(f"${"sigma.sq"}%-15s$sigmaSq%10.4f")
  }
}
