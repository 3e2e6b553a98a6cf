package graft

import java.time.LocalDate

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.disagg.{DisaggCore, Kernels, TsFrame}
import graft.time.Frequency

/** Driver-side kernel microbenchmarks at the REFERENCE's own problem sizes,
  * so BENCH output is directly comparable to BASELINE.md:
  *
  *   - denton / denton-cholette A->Q end-to-end at n=144 (36 years)
  *     [baseline: 15.9 / 15.8 ms]
  *   - chow-lin objective, single evaluation at n=158, k=2
  *     [baseline: 0.9 ms]
  *   - litterman objective, single evaluation at n=474, k=2
  *     [baseline: 24.0 ms]
  *
  * Synthetic deterministic series (no RNG). Median of `reps` after a JIT
  * warmup. `runMain graft.KernelBench` prints them alone (no Spark
  * session) — quick feedback while tuning graft.disagg.Kernels without
  * paying the full Bench query sweep.
  */
object KernelBench {
  def main(args: Array[String]): Unit =
    run().sortBy(_._1).foreach { case (k, v) => println(f"$k%-42s $v%10.3f ms") }

  private def syntheticLow(nYears: Int, start: LocalDate = LocalDate.of(1975, 1, 1)): TsFrame = {
    val ts = Frequency.parseValidated("YS").nDatesFrom(start, nYears)
    val v = Array.tabulate(nYears)(i => 100.0 + 10.0 * math.sin(i * 0.7) + i)
    TsFrame(ts, IndexedSeq("y"), IndexedSeq(v))
  }

  private def syntheticHigh(freq: String, start: LocalDate, n: Int, k: Int): TsFrame = {
    val ts = Frequency.parseValidated(freq).nDatesFrom(start, n)
    val cols = (0 until k).map {
      case 0 => "x0" -> Array.tabulate(n)(i => 50.0 + 5.0 * math.sin(i * 0.3) + 0.2 * i)
      case j => s"x$j" -> Array.fill(n)(1.0)
    }
    TsFrame(ts, cols.map(_._1).toIndexedSeq, cols.map(_._2).toIndexedSeq)
  }

  private def medianMs(reps: Int, warmup: Int = 50)(body: => Unit): Double = {
    // generous warmup: these kernels are 0.3-10 ms, so even 50 iterations
    // cost well under a second, and the driver reads a single cold-JVM run
    // of this number — it must reflect C2-compiled code, not JIT warmup.
    // (The 100ms-class scaling kernels pass a smaller warmup — same code
    // paths are already C2-hot from the smaller shapes by then.)
    // The GC fence keeps a collection triggered by warmup garbage from
    // landing inside the timed loop (observed 0.7→1.3 ms run-to-run swings
    // on the chow-lin eval without it).
    (0 until warmup).foreach(_ => body)
    System.gc()
    val times = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    }
    times.sorted.apply(reps / 2)
  }

  /** y, C without its all-zero rows, and X, as DisaggCore.run assembles
    * them for an indicator series.
    */
  private def mlInputs(low: TsFrame, high: TsFrame, method: String)
      : (DenseVector[Double], DenseMatrix[Double], DenseMatrix[Double]) = {
    val prep = DisaggCore.prepareInputs(low, Some(high), None, method)
    val c = DisaggCore.buildConversionMatrix(prep.low.ts, prep.lowFreq,
      prep.high.ts, prep.factor, "sum")
    val mask = (0 until c.rows).filter(i => (0 until c.cols).exists(j => c(i, j) != 0.0))
    val y = DenseVector(mask.map(low.data(0)).toArray)
    val ck = DenseMatrix.tabulate(mask.length, c.cols)((i, j) => c(mask(i), j))
    val x = DenseMatrix.tabulate(high.nRows, high.data.length)((i, j) => high.data(j)(i))
    (y, ck, x)
  }

  /** name -> median milliseconds. */
  def run(reps: Int = 31): Seq[(String, Double)] = {
    val low36 = syntheticLow(36)

    val dentonMs = medianMs(reps) {
      DisaggCore.run(low36, None, method = "denton", aggFunc = "sum")
    }
    val dcMs = medianMs(reps) {
      DisaggCore.run(low36, None, method = "denton-cholette", aggFunc = "sum")
    }

    // chow-lin objective at the exports_q shape: n=158 quarterly, k=2
    val highQ = syntheticHigh("QS", LocalDate.of(1972, 1, 1), 158, 2)
    val (yQ, cQk, xQ) = mlInputs(syntheticLow(36), highQ, "chow-lin")
    val chowLinEvalMs = medianMs(reps) {
      Kernels.negLogLikObjective(0.8, 0.8, yQ, xQ, cQk, Kernels.ChowLinCov)
    }

    // litterman objective at the exports_m shape: n=474 monthly, k=2
    val highM = syntheticHigh("MS", LocalDate.of(1972, 1, 1), 474, 2)
    val (yM, cMk, xM) = mlInputs(syntheticLow(39), highM, "litterman")
    val littermanEvalMs = medianMs(reps) {
      Kernels.negLogLikObjective(0.8, 0.8, yM, xM, cMk, Kernels.LittermanCov)
    }

    // BASELINE.md scaling rows (reference, same shapes: Y→M synthetic):
    //   objective @ n=2400: 1.19 s/eval   denton-cholette @ n=2400: 2.08 s
    // The banded-precision/banded-KKT kernels are near-linear in n, so these
    // two metrics are where the asymptotic win over the dense reference
    // kernels is directly visible.
    val highBig = syntheticHigh("MS", LocalDate.of(1800, 1, 1), 2400, 2)
    val lowBig = syntheticLow(200, LocalDate.of(1800, 1, 1))
    val (yB, cBk, xB) = mlInputs(lowBig, highBig, "chow-lin")
    val chowLinBigMs = medianMs(9) {
      Kernels.negLogLikObjective(0.8, 0.8, yB, xB, cBk, Kernels.ChowLinCov)
    }
    val littermanBigMs = medianMs(9) {
      Kernels.negLogLikObjective(0.8, 0.8, yB, xB, cBk, Kernels.LittermanCov)
    }
    val dcBigMs = medianMs(9) {
      DisaggCore.run(lowBig, None, method = "denton-cholette", aggFunc = "sum",
        targetFreq = Some("MS"))
    }

    // BASELINE.md's LARGEST scaling row (n=4800: reference 6.20 s/eval
    // objective, 12.45 s denton-cholette): the banded kernels stay
    // near-linear, so this is where the asymptotic gap is widest. Light
    // warmup — the same code paths are C2-hot from the n=2400 shapes.
    val high48 = syntheticHigh("MS", LocalDate.of(1600, 1, 1), 4800, 2)
    val low48 = syntheticLow(400, LocalDate.of(1600, 1, 1))
    val (y48, c48k, x48) = mlInputs(low48, high48, "chow-lin")
    val chowLin48Ms = medianMs(7, warmup = 3) {
      Kernels.negLogLikObjective(0.8, 0.8, y48, x48, c48k, Kernels.ChowLinCov)
    }
    val litterman48Ms = medianMs(7, warmup = 3) {
      Kernels.negLogLikObjective(0.8, 0.8, y48, x48, c48k, Kernels.LittermanCov)
    }
    val dc48Ms = medianMs(7, warmup = 3) {
      DisaggCore.run(low48, None, method = "denton-cholette", aggFunc = "sum",
        targetFreq = Some("MS"))
    }

    Seq(
      "denton_a2q_n144_ms" -> dentonMs,
      "denton_cholette_a2q_n144_ms" -> dcMs,
      "chowlin_objective_eval_n158_ms" -> chowLinEvalMs,
      "litterman_objective_eval_n474_ms" -> littermanEvalMs,
      "chowlin_objective_eval_n2400_ms" -> chowLinBigMs,
      "litterman_objective_eval_n2400_ms" -> littermanBigMs,
      "denton_cholette_y2m_n2400_ms" -> dcBigMs,
      "chowlin_objective_eval_n4800_ms" -> chowLin48Ms,
      "litterman_objective_eval_n4800_ms" -> litterman48Ms,
      "denton_cholette_y2m_n4800_ms" -> dc48Ms)
  }
}
