package graft

import java.time.LocalDate

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.disagg.{AggFunc, DisaggCore, TsFrame}
import graft.time.{Calendar, FreqClass, Frequency}

/** Property tests mirroring the reference's hypothesis strategies
  * (tests/test_disaggregation.py:68-139, tests/test_time_conversion.py:36-108,
  * tests/test_frequency_conversion.py:15-96): random anchored/business
  * frequency pairs -> conversion-matrix invariants and companion-index block
  * structure.
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic generator sampling (no scalatestplus bridge in the
    * offline cache): one sample per seed 0..n-1.
    */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val months = Frequency.MONTHS

  /** The reference's `frequencies()` strategy: matching prefix (B or not) and
    * suffix (E/S) on both sides; anchors on Y/Q low and Q high.
    */
  private val freqPairGen: Gen[(String, String)] = for {
    lowBaseIdx <- Gen.choose(0, 1)
    highBaseIdx <- Gen.choose(lowBaseIdx + 1, 2)
    prefix <- Gen.oneOf("", "B")
    suffix <- Gen.oneOf("E", "S")
    month <- Gen.oneOf(months)
  } yield {
    val bases = Seq("Y", "Q", "M")
    val lowBase = bases(lowBaseIdx)
    val highBase = bases(highBaseIdx)
    val low = prefix + lowBase + suffix + "-" + month
    val high = prefix + highBase + suffix + (if (highBase == "Q") "-" + month else "")
    (low, high)
  }

  private val startGen: Gen[LocalDate] = for {
    y <- Gen.choose(1900, 2000)
    m <- Gen.choose(1, 12)
    d <- Gen.choose(1, 28)
  } yield LocalDate.of(y, m, d)

  test("C-matrix row sums: factor for sum, 1 otherwise; shapes match inputs") {
    for {
      (pair, start, agg) <- samples(Gen.zip(freqPairGen, startGen,
        Gen.oneOf("sum", "mean", "first", "last")), 120)
    } {
        val (lowS, highS) = pair
        val low = Frequency.parseValidated(lowS)
        val high = Frequency.parseValidated(highS)
        val factor = low.factorTo(high).get
        val lowTs = low.nDatesFrom(start, 5)
        val highTs = high.dateRange(lowTs.head, lowTs.last)
        if (highTs.nonEmpty) {
          val c = DisaggCore.buildConversionMatrix(lowTs, low, highTs, factor, agg)
          assert(c.rows == lowTs.length && c.cols == highTs.length)
          val rowSums = (0 until c.rows).map(i => (0 until c.cols).map(j => c(i, j)).sum)
          val expectedMax = if (agg == "sum") factor.toDouble else 1.0
          assert(math.abs(rowSums.max - expectedMax) < 1e-9,
            s"$lowS->$highS $agg from $start: rowSums=$rowSums")
        }
    }
  }

  test("C action == grouped aggregation on complete groups (reference invariant)") {
    for {
      (pair, start, agg) <- samples(Gen.zip(freqPairGen, startGen,
        Gen.oneOf("sum", "mean", "first", "last")), 120)
    } {
        val (lowS, highS) = pair
        val low = Frequency.parseValidated(lowS)
        val high = Frequency.parseValidated(highS)
        val factor = low.factorTo(high).get
        val lowTs = low.nDatesFrom(start, 4)
        val highTs = high.dateRange(lowTs.head, lowTs.last)
        if (highTs.nonEmpty) {
          val c = DisaggCore.buildConversionMatrix(lowTs, low, highTs, factor, agg)
          val v = Array.tabulate(highTs.length)(i => (i + 1).toDouble)
          val action = (0 until c.rows).map(i =>
            (0 until c.cols).map(j => c(i, j) * v(j)).sum)
          // group the high values by the low calendar period, reference-style
          def key(d: LocalDate): (Int, Int) =
            if (low.cls == FreqClass.Yearly) (d.getYear, 0)
            else (d.getYear, (d.getMonthValue - 1) / 3)
          val groups = highTs.zipWithIndex.groupBy { case (d, _) => key(d) }
          lowTs.zipWithIndex.foreach { case (d, i) =>
            groups.get(key(d)).filter(_.length == factor).foreach { g =>
              val vals = g.map { case (_, j) => v(j) }
              val want = agg match {
                case "sum"   => vals.sum
                case "mean"  => vals.sum / vals.length
                case "first" => vals.head
                case "last"  => vals.last
              }
              assert(math.abs(action(i) - want) < 1e-9,
                s"$lowS->$highS $agg at row $i: ${action(i)} != $want")
            }
          }
        }
    }
  }

  test("companion index spans T*factor dates with the low dates aligned (start-anchored)") {
    val sFreqGen = for {
      lowBase <- Gen.oneOf("Y", "Q")
      month <- Gen.oneOf(months)
    } yield lowBase match {
      case "Y" => (s"YS-$month", 4)
      case "Q" => (s"QS-$month", 3)
    }
    for {
      (fp, year, periods) <- samples(Gen.zip(sFreqGen, Gen.choose(1950, 2000),
        Gen.choose(2, 8)), 80)
    } {
      val (lowS, factor) = fp
      val low = Frequency.parseValidated(lowS)
      val lowTs = low.nDatesFrom(LocalDate.of(year, 1, 1), periods)
      val target = low.stepDown
      val idx = Calendar.companionIndex(lowTs, low, target)
      assert(idx.length == periods * factor, s"$lowS: ${idx.length} != ${periods * factor}")
      assert(lowTs.forall(idx.contains), s"$lowS: low dates must embed in the spine")
    }
  }

  test("generate -> infer round-trips class/anchor-cycle for non-business aliases") {
    val tokenGen = for {
      base <- Gen.oneOf("Y", "Q", "M")
      suffix <- Gen.oneOf("E", "S")
      month <- Gen.oneOf(months)
      y <- Gen.choose(1950, 2020)
      m <- Gen.choose(1, 12)
    } yield (if (base == "M") base + suffix else s"$base$suffix-$month",
      LocalDate.of(y, m, 1))
    for ((tok, start) <- samples(tokenGen, 150)) {
      val f = Frequency.parseValidated(tok)
      val run = f.nDatesFrom(start, 6)
      val inferred = Frequency.infer(run)
      assert(inferred.isDefined, s"$tok from $start: $run")
      val g = inferred.get
      assert(g.cls == f.cls && g.isStart == f.isStart && !g.business,
        s"$tok inferred ${g.name}")
      // the inferred anchor must regenerate the same run
      assert(g.nDatesFrom(run.head, 6) == run, s"$tok: ${g.name} regenerates differently")
    }
  }

  test("frequency parse/print round-trip on random valid tokens") {
    val tokenGen = for {
      prefix <- Gen.oneOf("", "B")
      base <- Gen.oneOf("Y", "Q", "M")
      suffix <- Gen.oneOf("E", "S")
      month <- Gen.oneOf(months)
    } yield if (base == "M") prefix + base + suffix
      else s"$prefix$base$suffix-$month"
    for (tok <- samples(tokenGen, 200)) {
      val f = Frequency.parse(tok)
      assert(f.isDefined, tok)
      assert(f.get.name == tok)
      assert(Frequency.parse(f.get.name).contains(f.get))
    }
  }

  /** The merge join, the primitive C fill, loop-based inference and the
    * plain-loop companion spine against their map-and-tuple forms
    * ([[MapSteps]]), exactly: the same dates, and the same raw bits in
    * every C entry and every merged cell. Inputs are Y->Q, Y->M and Q->M
    * calendars with start, end and business anchors, then perturbed: gaps,
    * repeated dates on either side (the last row of a repeat wins the
    * join), and a short trailing period whose all-zero C row is dropped.
    */
  test("alignment steps are bit-identical to their map-and-tuple forms") {
    val bits = (a: Array[Double]) => a.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val pairs = Seq(("Y", "Q"), ("Y", "M"), ("Q", "M"))
    var dropped, repeated, gapped, business, ends = 0
    for (seed <- 0 until 400) {
      val rnd = new scala.util.Random(seed)
      val (lowBase, highBase) = pairs(seed % 3)
      val prefix = if (rnd.nextInt(3) == 0) "B" else ""
      val suffix = if (rnd.nextBoolean()) "S" else "E"
      val month = months(rnd.nextInt(12))
      val low = Frequency.parseValidated(s"$prefix$lowBase$suffix-$month")
      val high = Frequency.parseValidated(
        prefix + highBase + suffix + (if (highBase == "Q") s"-$month" else ""))
      val factor = low.factorTo(high).get
      val start = LocalDate.of(1950 + rnd.nextInt(70), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
      val lowTs0 = low.nDatesFrom(start, 3 + rnd.nextInt(8))
      val spine = Calendar.companionIndex(lowTs0, low, high)
      assert(spine == MapSteps.companionIndex(lowTs0, low, high), s"seed $seed: companion spine")
      for (ts <- Seq(lowTs0, spine))
        assert(Frequency.infer(ts) == MapSteps.infer(ts), s"seed $seed: infer $ts")

      // perturb: a short trailing period, interior gaps, repeated dates
      def repeat(ts: IndexedSeq[LocalDate]): IndexedSeq[LocalDate] =
        if (rnd.nextInt(3) > 0) ts
        else ts.flatMap(d => if (rnd.nextInt(4) == 0) Seq(d, d) else Seq(d))
      val trailing = if (rnd.nextBoolean()) spine.dropRight(1 + rnd.nextInt(factor - 1)) else spine
      val gaps = if (rnd.nextInt(4) == 0) trailing.filter(_ => rnd.nextInt(8) > 0) else trailing
      val highTs = repeat(gaps)
      val lowTs = repeat(lowTs0)
      for (ts <- Seq(lowTs, highTs))
        assert(Frequency.infer(ts) == MapSteps.infer(ts), s"seed $seed: infer $ts")

      for (agg <- AggFunc.all) {
        val c = DisaggCore.buildConversionMatrix(lowTs, low, highTs, factor, agg)
        val want = MapSteps.buildConversionMatrix(lowTs, low, highTs, factor, agg)
        assert(c.rows == want.rows && c.cols == want.cols, s"seed $seed $agg: shape")
        assert(bits(c.toArray) == bits(want.toArray), s"seed $seed $agg: C")
        if (agg == "sum" && (0 until c.rows).exists(i => (0 until c.cols).forall(j => c(i, j) == 0.0)))
          dropped += 1
      }

      val lowFrame = TsFrame(lowTs, IndexedSeq("y"), IndexedSeq(Array.fill(lowTs.length)(rnd.nextGaussian())))
      val k = 1 + rnd.nextInt(2)
      val highFrame = TsFrame(highTs, (0 until k).map(i => s"x$i"),
        (0 until k).map(_ => Array.fill(highTs.length)(rnd.nextGaussian())))
      val merged = DisaggCore.outerJoin(lowFrame, highFrame)
      val wantMerged = MapSteps.outerJoin(lowFrame, highFrame)
      assert(merged.ts == wantMerged.ts, s"seed $seed: merged dates")
      assert(merged.columns == wantMerged.columns, s"seed $seed: merged columns")
      merged.data.indices.foreach(i =>
        assert(bits(merged.data(i)) == bits(wantMerged.data(i)), s"seed $seed: merged column $i"))

      if (lowTs.length > lowTs0.length || highTs.length > gaps.length) repeated += 1
      if (gaps.length < trailing.length) gapped += 1
      if (prefix == "B") business += 1
      if (suffix == "E") ends += 1
    }
    assert(Seq(dropped, repeated, gapped, business, ends).forall(_ >= 20),
      s"coverage: dropped=$dropped repeated=$repeated gapped=$gapped business=$business end=$ends")
  }

  test("alias parsing is the regex grammar's, on valid and invalid tokens") {
    val rnd = new scala.util.Random(20261020)
    val alphabet = "BYQMESAJNFDOX-"
    val valid = for (b <- Seq("", "B"); c <- Seq("Y", "Q", "M"); es <- Seq("E", "S");
        a <- "" +: months.map("-" + _)) yield b + c + es + a
    val random = Seq.fill(3000)(Seq.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val edits = valid.flatMap(v => Seq(v + "-", v.toLowerCase, v + "X", v.drop(1), v + "\n", " " + v))
    for (tok <- valid ++ random ++ edits ++ Seq("", "B", "YS-", "QS-jan", "MS-JAN", "QE-JANX"))
      assert(Frequency.parse(tok) == MapSteps.parse(tok), s"token '$tok'")
  }
}
