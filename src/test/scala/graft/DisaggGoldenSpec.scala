package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.disagg.{DisaggCore, Report, TsFrame}

/** End-to-end golden parity vs R `tempdisagg` outputs — the reference's own
  * correctness corpus (/root/reference/tests/test_disaggregation.py:142-363).
  * Tolerances mirror the reference: assert_frame_equal rtol ~1e-5 for the
  * main cases, rtol 1e-3 for the two backcasting regressions.
  */
class DisaggGoldenSpec extends AnyFunSuite {
  import Fixtures._

  test("denton A->Q (R_output_denton.csv, test:306-317)") {
    val want = rValues("R_output_denton.csv")
    val out = DisaggCore.run(salesA, None, method = "denton", aggFunc = "sum")
    assert(out.ts.length == 144)
    assert(out.ts.head == java.time.LocalDate.parse("1975-01-01"))
    assert(out.ts.last == java.time.LocalDate.parse("2010-10-01"))
    assertAllClose(out.values, want, 1e-5, "denton")
  }

  test("denton-cholette A->Q (R_output_denton_cholette.csv, test:319-331)") {
    val want = rValues("R_output_denton_cholette.csv")
    val out = DisaggCore.run(salesA, None, method = "denton-cholette", aggFunc = "sum")
    assertAllClose(out.values, want, 1e-5, "denton-cholette")
  }

  test("denton-cholette with indicator (R_output_denton_cholette_w_indicator.csv, test:333-347)") {
    val want = rValues("R_output_denton_cholette_w_indicator.csv")
    val out = DisaggCore.run(salesA, Some(exportsQ), method = "denton-cholette", aggFunc = "sum")
    assert(out.ts.length == 158)
    assertAllClose(out.values, want, 1e-5, "denton-cholette w/ indicator")
  }

  // The reference fits the next three goldens with powell; each one also
  // runs on the default (nelder-mead), which must land on the same optimum
  // rather than stop at the rho bound.
  private val powellAndDefault = Seq("powell", "nelder-mead")

  test("chow-lin A->Q, powell (R_output_chow_lin.csv, test:175-189)") {
    val want = rValues("R_output_chow_lin.csv")
    for (m <- powellAndDefault) {
      val out = DisaggCore.run(salesA, Some(withConstant(exportsQ)),
        method = "chow-lin", aggFunc = "sum", optimizerMethod = m)
      assertAllClose(out.values, want, 1e-5, s"chow-lin $m")
    }
  }

  test("chow-lin two indicators, l-bfgs-b (R_output_chow_lin_two_indicator.csv, test:265-281)") {
    val want = rValues("R_output_chow_lin_two_indicator.csv")
    val both = TsFrame(exportsQ.ts, IndexedSeq("exports", "imports", "constant"),
      IndexedSeq(exportsQ.data(0), importsQ.data(0), Array.fill(exportsQ.nRows)(1.0)))
    val out = DisaggCore.run(salesA, Some(both),
      method = "chow-lin", aggFunc = "sum", optimizerMethod = "l-bfgs-b")
    assertAllClose(out.values, want, 1e-5, "chow-lin 2 indicators")
  }

  test("chow-lin with inferred low frequency (test_chow_lin_no_freq, test:283-304)") {
    // identical inputs, but the engine must infer YS-JAN / QS-OCT itself —
    // DisaggCore always infers unless a hint is passed, so this doubles as
    // the inference-path golden; the output grid must be QS-OCT.
    val want = rValues("R_output_chow_lin_two_indicator.csv")
    val both = TsFrame(exportsQ.ts, IndexedSeq("exports", "imports", "constant"),
      IndexedSeq(exportsQ.data(0), importsQ.data(0), Array.fill(exportsQ.nRows)(1.0)))
    val out = DisaggCore.run(salesA, Some(both), method = "chow-lin", aggFunc = "sum")
    assertAllClose(out.values, want, 1e-5, "chow-lin no-freq")
    assert(graft.time.Frequency.infer(out.ts).map(_.name) == Some("QS-OCT"))
  }

  test("litterman A->M, nelder-mead (R_output_litterman_A_to_M.csv, test:349-363)") {
    val want = rValues("R_output_litterman_A_to_M.csv")
    val out = DisaggCore.run(salesA, Some(withConstant(exportsM, "Constant")),
      method = "litterman", aggFunc = "sum", optimizerMethod = "nelder-mead")
    assert(out.ts.length == 474)
    assertAllClose(out.values, want, 1e-5, "litterman")
  }

  test("chow-lin Q->M backcasting, agg first (R_Output_chow-lin_QtoM_2.csv, test:191-222)") {
    val want = singleCol("R_Output_chow-lin_QtoM_2.csv")
    val (lowTs, lowV) = datedValues("AL_Quarterly_Data_Modified.csv")
    val (highTs, highV) = datedValues("AL_Monthly_Data_Modified_Shorter.csv")
    val low = frame(lowTs, "Value" -> lowV)
    val high = TsFrame(highTs, IndexedSeq("Value_m", "intercept"),
      IndexedSeq(highV, Array.fill(highV.length)(1.0)))
    for (m <- powellAndDefault) {
      val out = DisaggCore.run(low, Some(high),
        method = "chow-lin", aggFunc = "first", optimizerMethod = m)
      assert(out.ts.length == want.length)
      assertAllClose(out.values, want, 1e-3, s"chow-lin QtoM backcast $m")
    }
  }

  test("chow-lin A->Q backcasting + optimizer success (AL_A_to_Q_expected.csv, test:224-263)") {
    // expected file is `index,value` with "1995 Q2"-style periods; values are
    // already in time order, which is all the comparison needs
    val in = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/tsdisagg/AL_A_to_Q_expected.csv"))
    val want = try in.getLines().toVector.tail.map(_.split(",")(1).toDouble).toArray
      finally in.close()
    val (lowTs, lowV) = datedValues("AL_Annual_Data_Shorter.csv")
    val (highTs, highV) = datedValues("AL_Quarterly_Data_Modified.csv")
    val low = frame(lowTs, "value" -> lowV)
    val high = TsFrame(highTs, IndexedSeq("Value", "intercept"),
      IndexedSeq(highV, Array.fill(highV.length)(1.0)))
    for (m <- powellAndDefault) {
      val out = DisaggCore.run(low, Some(high),
        method = "chow-lin", aggFunc = "first", optimizerMethod = m)
      assert(out.optim.exists(_.success))
      assert(out.values.length == want.length)
      assertAllClose(out.values, want, 1e-3, s"chow-lin AtoQ backcast $m")
    }
  }

  test("additive criterion preserves aggregation consistency (no golden exists)") {
    // the R goldens only exercise criterion=proportional; the additive path
    // (ts_disagg.py:157-158 — no diag scaling) is pinned by the defining
    // invariant C y_hat = y instead
    for (method <- Seq("denton", "denton-cholette")) {
      val out = DisaggCore.run(salesA, None, method = method,
        aggFunc = "sum", criterion = "additive")
      val yearly = out.values.grouped(4).map(_.sum).toArray
      val want = salesA.data(0)
      assertAllClose(yearly, want, 1e-8, s"additive $method roll-up")
    }
  }

  test("h=2 differencing order runs and preserves consistency") {
    val out = DisaggCore.run(salesA, None, method = "denton-cholette",
      aggFunc = "sum", h = 2)
    val yearly = out.values.grouped(4).map(_.sum).toArray
    assertAllClose(yearly, salesA.data(0), 1e-8, "h=2 roll-up")
  }

  test("error paths pin the reference's messages (test:366-475)") {
    val dailyTs = (0 until 3).map(i => java.time.LocalDate.parse("2020-01-01").plusDays(i.toLong))
    val daily = frame(dailyTs, "data" -> Array(1.0, 2.0, 3.0))
    val nanLow = frame(dailyTs, "data" -> Array(1.0, Double.NaN, 3.0))

    val e1 = intercept[IllegalArgumentException](
      DisaggCore.run(nanLow, Some(daily), method = "denton", aggFunc = "sum"))
    assert(e1.getMessage.contains("low_freq_df has missing values"))

    val e2 = intercept[IllegalArgumentException](
      DisaggCore.run(daily, Some(nanLow), method = "denton", aggFunc = "sum"))
    assert(e2.getMessage.contains("high_freq_df has missing values"))

    val lateTs = (0 until 3).map(i => java.time.LocalDate.parse("2021-01-01").plusDays(i.toLong))
    val e3 = intercept[IllegalArgumentException](
      DisaggCore.run(daily, Some(frame(lateTs, "data" -> Array(1.0, 2.0, 3.0))),
        method = "denton", aggFunc = "sum"))
    assert(e3.getMessage.contains("is after start date found on low frequency data"))

    val e4 = intercept[IllegalArgumentException](
      DisaggCore.run(daily, Some(daily), method = "denton", aggFunc = "sum",
        targetFreq = Some("MS")))
    assert(e4.getMessage.contains("User provided target_freq does not match"))

    val irregular = frame(IndexedSeq("2020-01-01", "2020-03-04", "2020-12-06")
      .map(java.time.LocalDate.parse), "data" -> Array(1.0, 2.0, 3.0))
    val monthly = frame(Fixtures.freqDates("2020-01-01", "MS", 3), "data" -> Array(1.0, 2.0, 3.0))
    val e5 = intercept[IllegalArgumentException](
      DisaggCore.run(monthly, Some(irregular), method = "denton", aggFunc = "sum"))
    assert(e5.getMessage.contains(
      "Indicator data high_freq_df does not have a valid time index"))

    val quarterly = frame(Fixtures.freqDates("2020-01-01", "QS", 3), "data" -> Array(1.0, 2.0, 3.0))
    val e6 = intercept[IllegalArgumentException](
      DisaggCore.run(quarterly, None, method = "litterman", aggFunc = "sum"))
    assert(e6.getMessage.contains("high_freq_df can only be None"))

    val e7 = intercept[IllegalArgumentException](
      DisaggCore.run(quarterly, None, method = "bogus", aggFunc = "sum"))
    assert(e7.getMessage.contains("Method should be one of"))

    val e8 = intercept[IllegalArgumentException](
      DisaggCore.run(quarterly, None, method = "denton", aggFunc = "median"))
    assert(e8.getMessage.contains("agg_func should be one of"))

    val e10 = intercept[IllegalArgumentException](
      DisaggCore.run(quarterly, None, method = "denton", aggFunc = "sum",
        targetColumn = Some("nope")))
    assert(e10.getMessage.contains("target_column nope not found"))

    val e11 = intercept[IllegalArgumentException](
      DisaggCore.run(salesA, Some(withConstant(exportsQ)),
        method = "chow-lin", aggFunc = "sum", optimizerMethod = "bfgs"))
    assert(e11.getMessage.contains("Unsupported optimizer method bfgs"), e11.getMessage)
    for (m <- Seq("nelder-mead", "powell", "l-bfgs-b"))
      assert(e11.getMessage.contains(m), e11.getMessage)

    // inferable-but-unsupported frequency: weekly infers like pandas
    // ("W-WED") and then fails validate_freqs-style (time_conversion.py:66-71)
    val weeklyTs = (0 until 4).map(i => java.time.LocalDate.parse("2020-01-01").plusWeeks(i.toLong))
    val weekly = frame(weeklyTs, "data" -> Array(1.0, 2.0, 3.0, 4.0))
    val e9 = intercept[UnsupportedOperationException](
      DisaggCore.run(weekly, None, method = "denton", aggFunc = "sum", targetFreq = Some("QS")))
    assert(e9.getMessage.contains(
      "Only annual, quarterly and monthly frequencies are supported, found W-WED"),
      e9.getMessage)
  }

  test("regression report: Student-t tails match the closed forms") {
    for (t <- Seq(-7.5, -1.3, -0.2, 0.0, 0.4, 1.0, 2.5, 12.0, 150.0)) {
      assert(math.abs(Report.tSf(t, 1) - (0.5 - math.atan(t) / math.Pi)) < 1e-12, s"df=1 t=$t")
      assert(math.abs(Report.tSf(t, 2) - (0.5 - t / (2 * math.sqrt(t * t + 2)))) < 1e-12,
        s"df=2 t=$t")
    }
    for (df <- Seq(1.0, 2.0, 5.0, 30.0); p <- Seq(0.05, 0.5, 0.9, 0.975, 0.995))
      assert(math.abs(Report.tSf(Report.tPpf(p, df), df) - (1 - p)) < 1e-9, s"df=$df p=$p")
    // no degrees of freedom left (tiny inputs): NaN, never an exception
    assert(Report.tSf(1.0, 0).isNaN && Report.tPpf(0.975, -1).isNaN)
  }

  test("regression report: verbose chow-lin prints the GLS table") {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf) {
      DisaggCore.run(salesA, Some(withConstant(exportsQ)),
        method = "chow-lin", aggFunc = "sum", optimizerMethod = "powell", verbose = true)
    }
    val lines = buf.toString("UTF-8").linesIterator.toVector
    assert(lines.exists(_.startsWith("Dependent Variable")), lines.mkString("\n"))
    val rows = lines.dropWhile(!_.startsWith("-" * 100)).drop(1).takeWhile(_.nonEmpty)
    assert(rows.size == 2, lines.mkString("\n"))
    rows.foreach { r =>
      val p = r.trim.split("\\s+")(4).toDouble
      assert(p >= 0 && p <= 1, r)
    }
  }
}
