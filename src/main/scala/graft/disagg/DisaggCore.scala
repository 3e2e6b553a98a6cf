package graft.disagg

import java.time.LocalDate

import scala.collection.immutable.ArraySeq

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.time.{Calendar, FreqClass, Frequency}

/** A small column-oriented in-memory time-series frame: rows sorted by `ts`
  * ascending, one Array per column. This is the per-series working set — the
  * supported regime is n = O(10^2..10^3) rows per series (SURVEY.md §4.3), so
  * it lives comfortably on a driver or inside one executor task.
  */
final case class TsFrame(
    ts: IndexedSeq[LocalDate],
    columns: IndexedSeq[String],
    data: IndexedSeq[Array[Double]]) {
  require(columns.length == data.length, "column/data arity mismatch")
  require(data.forall(_.length == ts.length), "ragged TsFrame")
  def nRows: Int = ts.length
  def col(name: String): Array[Double] = data(columns.indexOf(name))
  def hasNaN: Boolean = data.exists(_.exists(_.isNaN))
  def renamed(from: String, to: String): TsFrame =
    copy(columns = columns.map(c => if (c == from) to else c))
}

/** Aggregation statistic the disaggregated series must respect when rolled
  * back up to the low frequency (AGG_FUNC, ts_disagg.py:20).
  */
object AggFunc {
  val all = Seq("sum", "mean", "first", "last")
}

final case class PreparedInputs(
    merged: TsFrame,
    low: TsFrame,
    high: TsFrame,
    factor: Int,
    lowFreq: Frequency,
    highFreq: Frequency)

final case class DisaggOutput(
    ts: IndexedSeq[LocalDate],
    values: Array[Double],
    name: String,
    optim: Option[Optimizer.Result],
    rho: Option[Double],
    sigmaSq: Option[Double],
    beta: Option[Array[Double]],
    stdBeta: Option[Array[Double]],
    droppedLowDates: Seq[LocalDate])

/** The full disaggregation pipeline on in-memory series — a faithful
  * re-derivation of /root/reference/tsdisagg/ts_disagg.py:213-472 (same
  * validation messages, same alignment/merge semantics, same numeric path),
  * expressed as a pure function so the Spark layer can run it once on the
  * driver (single series) or per group inside executors (many series).
  */
object DisaggCore {

  def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Full outer equi-join of the two frames on ts (pd.merge how="outer",
    * ts_disagg.py:298); unmatched cells become NaN. A merge over the two
    * sorted `ts` runs (the TsFrame contract, checked here): a date repeated
    * on one side takes that side's LAST row, as a date -> row map would.
    */
  def outerJoin(low: TsFrame, high: TsFrame): TsFrame = {
    val lt = low.ts
    val ht = high.ts
    val nLow = lt.length
    val nHigh = ht.length
    val ts = new Array[LocalDate](nLow + nHigh)
    val lowRow = new Array[Int](nLow + nHigh)
    val highRow = new Array[Int](nLow + nHigh)
    var a = 0
    var b = 0
    var m = 0
    while (a < nLow || b < nHigh) {
      val d = if (b == nHigh || (a < nLow && lt(a).compareTo(ht(b)) <= 0)) lt(a) else ht(b)
      if (m > 0 && !d.isAfter(ts(m - 1))) fail("TsFrame rows must be sorted by ts")
      var la = -1
      while (a < nLow && lt(a) == d) { la = a; a += 1 }
      var hb = -1
      while (b < nHigh && ht(b) == d) { hb = b; b += 1 }
      ts(m) = d; lowRow(m) = la; highRow(m) = hb
      m += 1
    }
    val nCols = low.columns.length + high.columns.length
    val columns = new Array[String](nCols)
    val data = new Array[Array[Double]](nCols)
    def expand(frame: TsFrame, row: Array[Int], first: Int): Unit =
      frame.columns.indices.foreach { f =>
        val src = frame.data(f)
        val out = new Array[Double](m)
        var i = 0
        while (i < m) { val r = row(i); out(i) = if (r < 0) Double.NaN else src(r); i += 1 }
        columns(first + f) = frame.columns(f)
        data(first + f) = out
      }
    expand(low, lowRow, 0)
    expand(high, highRow, low.columns.length)
    TsFrame(ArraySeq.unsafeWrapArray(java.util.Arrays.copyOf(ts, m)),
      ArraySeq.unsafeWrapArray(columns), ArraySeq.unsafeWrapArray(data))
  }

  /** prepare_input_dataframes (ts_disagg.py:213-299). `lowFreqHint` /
    * `highFreqHint` play the role of an explicit `index.freq`; when absent the
    * frequency is inferred from the timestamps like pandas `inferred_freq`.
    */
  def prepareInputs(
      low: TsFrame,
      high: Option[TsFrame],
      targetFreq: Option[String],
      method: String,
      lowFreqHint: Option[String] = None,
      highFreqHint: Option[String] = None): PreparedInputs = {

    if (low.hasNaN) fail("low_freq_df has missing values.")
    high.foreach { h =>
      if (h.hasNaN) fail("high_freq_df has missing values.")
      if (h.ts.head.isAfter(low.ts.head)) {
        val nMissing = low.ts.count(_.isBefore(h.ts.head))
        fail(
          s"Start date found on high frequency data ${h.ts.head} is after start " +
            s"date found on low frequency data ${low.ts.head}. Interpolation is not " +
            s"possible in this case, because there is no observed high frequency data associated with the first " +
            s"$nMissing low-frequency observations. " +
            s"Align the start date of these two dataframes and try again.")
      }
    }

    // Frequency resolution mirrors the reference's ordering
    // (ts_disagg.py:246-270): names are resolved first and only validated
    // against the supported Y/Q/M family afterwards, so the error-path
    // messages fire in the same sequence. A resolved frequency is parsed
    // when it is in that family, else it is the name validate_freqs
    // reports. Inferable-but-unsupported spacings (daily, weekly) get a
    // pandas-style name so validation raises the reference's
    // NotImplementedError analogue ("Only annual, quarterly and monthly
    // frequencies are supported, found W-MON") instead of the missing-index
    // message (validate_freqs, time_conversion.py:66-71).
    type Resolved = Either[String, Frequency]
    def named(s: String): Resolved = Frequency.parse(s).toRight(s)
    def validated(f: Resolved): Frequency = f.fold(Frequency.parseValidated, identity)
    def unsupportedSpacing(ts: IndexedSeq[LocalDate]): Option[String] =
      if (ts.length < 3) None
      else {
        val diffs = ts.sliding(2).map { case Seq(a, b) =>
          java.time.temporal.ChronoUnit.DAYS.between(a, b)
        }.toSeq
        if (diffs.forall(_ == 1L)) Some("D")
        else if (diffs.forall(_ == 7L))
          Some("W-" + ts.head.getDayOfWeek
            .getDisplayName(java.time.format.TextStyle.SHORT, java.util.Locale.ENGLISH)
            .toUpperCase(java.util.Locale.ENGLISH))
        else None
      }
    def inferred(ts: IndexedSeq[LocalDate]): Option[Resolved] =
      Frequency.infer(ts).map(Right(_)).orElse(unsupportedSpacing(ts).map(Left(_)))

    val lowResolved = lowFreqHint.map(named).orElse(inferred(low.ts)).getOrElse(fail(
      "Low frequency dataframe does not have a valid time index with frequency information"))

    val highResolved: Resolved = (high, targetFreq) match {
      case (None, None) => Right(validated(lowResolved).stepDown)
      case (None, Some(t)) => named(t)
      case (Some(h), Some(t)) =>
        val target = named(t)
        val matches = (target, highFreqHint.map(named).orElse(inferred(h.ts))) match {
          case (Right(a), Some(Right(b))) => a == b
          case (_, Some(Left(name)))      => name == t
          case _                          => false
        }
        if (!matches)
          fail("User provided target_freq does not match frequency information found on indicator data high_freq_df.")
        target
      case (Some(h), None) =>
        highFreqHint.map(named).orElse(inferred(h.ts)).getOrElse(fail(
          "Indicator data high_freq_df does not have a valid time index with frequency information"))
    }

    // validate_freqs (time_conversion.py:66-71)
    val lowFreq = validated(lowResolved)
    val highFreq = validated(highResolved)
    val factor = lowFreq.factorTo(highFreq).getOrElse(fail(
      s"Unsupported frequency conversion ${lowFreq.cls.longName} -> ${highFreq.cls.longName}; " +
        "only yearly->quarterly, yearly->monthly and quarterly->monthly are supported."))

    val varName = low.columns.head
    val (lowName, highName) = Frequency.namesFrom(varName, lowFreq, highFreq)
    val lowOut = low.renamed(varName, lowName)

    val highOut: TsFrame = high match {
      case Some(h) => h
      case None if method == "denton" || method == "denton-cholette" =>
        val idx = Calendar.companionIndex(lowOut.ts, lowFreq, highFreq)
        TsFrame(idx, IndexedSeq(highName), IndexedSeq(Array.fill(idx.length)(1.0)))
      case None =>
        fail("high_freq_df can only be None for methods \"denton\" and \"denton-cholette\", otherwise a " +
          "dataframe of high-frequency indicators must be provided.")
    }

    val merged = outerJoin(lowOut, highOut)
    PreparedInputs(merged, lowOut, highOut, factor, lowFreq, highFreq)
  }

  /** build_conversion_matrix (ts_disagg.py:45-81): the (n_low x n_high)
    * aggregation matrix. High-frequency rows are grouped by their CALENDAR
    * year/quarter (anchors deliberately ignored — ts_disagg.py:60-63), groups
    * with a member count != factor get fill 0.0 (ts_disagg.py:34-35), `first`/
    * `last` mark a single time-ordered member.
    */
  def buildConversionMatrix(
      lowTs: IndexedSeq[LocalDate],
      lowFreq: Frequency,
      highTs: IndexedSeq[LocalDate],
      factor: Int,
      aggFunc: String): DenseMatrix[Double] = {
    val useYear = lowFreq.cls == FreqClass.Yearly
    // calendar period as one Long: year, or year * 4 + quarter
    def keys(ts: IndexedSeq[LocalDate]): Array[Long] = {
      val out = new Array[Long](ts.length)
      var i = 0
      while (i < out.length) {
        val d = ts(i)
        out(i) = if (useYear) d.getYear.toLong else d.getYear * 4L + (d.getMonthValue - 1) / 3
        i += 1
      }
      out
    }
    val lowKey = keys(lowTs)
    val highKey = keys(highTs)
    val lowOrder = stableOrder(lowKey)
    val highOrder = stableOrder(highKey)

    val nLow = lowTs.length
    val cd = new Array[Double](nLow * highTs.length) // column-major
    lazy val fill = aggFunc match {
      case "sum" | "first" | "last" => 1.0
      case "mean"                   => 1.0 / factor
      case _                        => fail("Invalid method")
    }
    // walk the high groups (runs of one key, members in time order) and the
    // low rows in key order together
    var a = 0
    var g = 0
    while (g < highOrder.length) {
      val k = highKey(highOrder(g))
      var e = g
      while (e < highOrder.length && highKey(highOrder(e)) == k) e += 1
      while (a < lowOrder.length && lowKey(lowOrder(a)) < k) a += 1
      // last low row wins on duplicate period keys, like the reference's
      // dict comprehension (ts_disagg.py:64-66)
      var row = -1
      while (a < lowOrder.length && lowKey(lowOrder(a)) == k) { row = lowOrder(a); a += 1 }
      if (row >= 0) {
        val v = fill // an unknown aggFunc fails on the first matched group
        // groups with a member count != factor keep fill 0.0
        if (e - g == factor) aggFunc match {
          case "first" => cd(highOrder(g) * nLow + row) = v
          case "last"  => cd(highOrder(e - 1) * nLow + row) = v
          case _       => var j = g; while (j < e) { cd(highOrder(j) * nLow + row) = v; j += 1 }
        }
      }
      g = e
    }
    new DenseMatrix(nLow, highTs.length, cd)
  }

  /** Indices of `keys` in ascending key order, ties in index order. An
    * insertion sort: linear on the sorted keys of sorted dates.
    */
  private def stableOrder(keys: Array[Long]): Array[Int] = {
    val order = new Array[Int](keys.length)
    var i = 0
    while (i < order.length) { order(i) = i; i += 1 }
    i = 1
    while (i < order.length) {
      val v = order(i)
      var j = i - 1
      while (j >= 0 && keys(order(j)) > keys(v)) { order(j + 1) = order(j); j -= 1 }
      order(j + 1) = v
      i += 1
    }
    order
  }

  /** disaggregate_series (ts_disagg.py:302-472) minus the DataFrame I/O. */
  def run(
      low: TsFrame,
      high: Option[TsFrame],
      targetFreq: Option[String] = None,
      targetColumn: Option[String] = None,
      aggFunc: String = "sum",
      method: String = "denton-cholette",
      criterion: String = "proportional",
      h: Int = 1,
      optimizerMethod: String = "nelder-mead",
      verbose: Boolean = false,
      lowFreqHint: Option[String] = None,
      highFreqHint: Option[String] = None,
      optimizerOptions: Optimizer.Options = Optimizer.Options()): DisaggOutput = {

    if (!Seq("denton", "denton-cholette", "chow-lin", "litterman").contains(method))
      fail(s"Method should be one of 'denton', 'denton-cholette', 'chow-lin', 'litterman'. Got $method.")
    if (!Seq("proportional", "additive").contains(criterion))
      fail(s"Criterion should be one of 'proportional', 'additive'. Got $criterion")
    if (!AggFunc.all.contains(aggFunc))
      fail(s"agg_func should be one of 'mean', 'sum', 'first', 'last'. Got $aggFunc")

    val target = targetColumn.getOrElse(low.columns.head)
    val targetIdx = low.columns.indexOf(target)
    if (targetIdx < 0) fail(s"target_column $target not found in low_freq_df")

    val prep = prepareInputs(low, high, targetFreq, method, lowFreqHint, highFreqHint)
    import prep.{merged, factor}

    val c0 = buildConversionMatrix(prep.low.ts, prep.lowFreq, prep.high.ts, factor, aggFunc)
    val nLow = c0.rows
    val nHigh = c0.cols
    val cd = c0.data // column-major, offset 0
    val rowUsed = new Array[Boolean](nLow)
    var j = 0
    while (j < nHigh) {
      var r = 0
      while (r < nLow) { if (cd(j * nLow + r) != 0.0) rowUsed(r) = true; r += 1 }
      j += 1
    }
    val keepAll = new Array[Int](nLow)
    var nKept = 0
    var r = 0
    while (r < nLow) { if (rowUsed(r)) { keepAll(nKept) = r; nKept += 1 }; r += 1 }
    val keep = java.util.Arrays.copyOf(keepAll, nKept)
    val dropped = (0 until nLow).filterNot(rowUsed).map(prep.low.ts)
    if (dropped.nonEmpty)
      System.err.println(
        s"Insufficent high-frequency data to decompose the following dates: ${dropped.mkString(", ")}")

    // y: target column of the merged frame, NaN rows (pure high-freq rows)
    // removed, then all-zero C rows removed (ts_disagg.py:406-407)
    val mergedTarget = merged.data(targetIdx)
    val yFull = mergedTarget.filterNot(_.isNaN)
    if (yFull.length != prep.low.nRows)
      fail("low-frequency observations did not align onto the high-frequency grid")
    val y = new DenseVector(keep.map(yFull(_)))
    val c = if (dropped.isEmpty) c0 else {
      val kept = new Array[Double](keep.length * nHigh)
      j = 0
      while (j < nHigh) {
        var i = 0
        while (i < keep.length) { kept(j * keep.length + i) = cd(j * nLow + keep(i)); i += 1 }
        j += 1
      }
      new DenseMatrix(keep.length, nHigh, kept)
    }

    // X: every merged column except the target (ts_disagg.py:408)
    val xCols = merged.columns.indices.filterNot(_ == targetIdx)
    val n = merged.nRows
    val k = xCols.length
    if (n != prep.high.nRows)
      fail("low-frequency timestamps do not align onto the high-frequency grid; " +
        "indicator rows and merged rows differ")
    val xData = new Array[Double](n * k)
    xCols.indices.foreach(i => System.arraycopy(merged.data(xCols(i)), 0, xData, i * n, n))
    val x = new DenseMatrix(n, k, xData)
    val nl = y.length

    var optim: Option[Optimizer.Result] = None
    var rhoOut: Option[Double] = None
    var sigmaOut: Option[Double] = None
    var betaOut: Option[Array[Double]] = None
    var stdOut: Option[Array[Double]] = None

    val proportional = criterion == "proportional"

    // The distribution matrix is only ever APPLIED to the single residual
    // vector ul, so each arm returns (p, applyD) and never materializes the
    // n x nl matrix: the O(nl^2 * n) multi-RHS backsubstitution becomes one
    // nl-sized solve per series (Kernels.dentonApply / dentonCholetteApply).
    val (p: DenseVector[Double], applyD: (DenseVector[Double] => DenseVector[Double])) = method match {
      case "denton" =>
        require(k == 1, s"denton supports exactly one indicator column, got $k")
        val xv = x(::, 0)
        (xv.copy, (ul: DenseVector[Double]) =>
          Kernels.dentonApply(n, xv, h, proportional, c, ul))
      case "denton-cholette" =>
        require(k == 1, s"denton-cholette supports exactly one indicator column, got $k")
        val xv = x(::, 0)
        (xv.copy, (ul: DenseVector[Double]) =>
          Kernels.dentonCholetteApply(n, nl, c, xv, h, proportional, ul))
      case _ =>
        val kind: Kernels.MlCov =
          if (method == "chow-lin") Kernels.ChowLinCov else Kernels.LittermanCov
        val obj = (params: Array[Double]) =>
          Kernels.negLogLikObjective(params(0), params(1), y, x, c, kind)
        val res = Optimizer.minimize(
          optimizerMethod, obj, Array(0.8, 0.8),
          lower = Array(1e-5, 1e-5), upper = Array(1.0 - 1e-5, 1e300),
          opts = optimizerOptions)
        optim = Some(res)
        val rho = res.x(0)
        val sigmaSq = res.x(1)
        rhoOut = Some(rho); sigmaOut = Some(sigmaSq)
        val prod = Kernels.covProducts(kind, rho, sigmaSq, n, c)
        val beta = Kernels.glsBetaHatFromCsct(prod.csct, y, x, c)
        val stdBeta = Kernels.glsStdErrors(kind, rho, sigmaSq, x)
        betaOut = Some(beta.toArray); stdOut = Some(stdBeta.toArray)
        if (verbose)
          Report.printRegressionReport(target, y, x, merged.columns.filterNot(_ == merged.columns(targetIdx)),
            beta.toArray, rho, sigmaSq, stdBeta.toArray, c, method)
        // D ul = S C' (C S C')^-1 ul: one nl-solve, then the (nl x n)
        // cSigma transpose-product — never the n x nl matrix
        (x * beta, (ul: DenseVector[Double]) => prod.cSigma.t * (prod.csct \ ul))
    }

    val ul = y - Kernels.sparseRowProductVec(c, p)
    val yHat = p + applyD(ul)

    DisaggOutput(merged.ts, yHat.toArray, target, optim, rhoOut, sigmaOut,
      betaOut, stdOut, dropped)
  }
}
