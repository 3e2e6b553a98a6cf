package graft

import java.time.{LocalDate, YearMonth}

import breeze.linalg.DenseMatrix

import graft.disagg.{DisaggCore, TsFrame}
import graft.time.{Calendar, FreqClass, Frequency}

/** The per-series alignment steps in their first, map-and-tuple form: a
  * date -> row `Map` per side for the outer join, tuple-keyed
  * `LinkedHashMap`s for the conversion matrix, `sliding` for frequency
  * inference, a regex for alias parsing and `Iterator.iterate` over tuples
  * for the companion spine. Production (graft.disagg.DisaggCore,
  * graft.time) does the same work with merges and primitive arrays;
  * PropertySpec checks the two forms agree bit for bit.
  */
object MapSteps {

  def outerJoin(low: TsFrame, high: TsFrame): TsFrame = {
    val allTs = (low.ts ++ high.ts).distinct.sorted
    val lowPos = low.ts.zipWithIndex.toMap
    val highPos = high.ts.zipWithIndex.toMap
    def expand(frame: TsFrame, pos: Map[LocalDate, Int]): IndexedSeq[Array[Double]] =
      frame.data.map { colArr =>
        allTs.map(t => pos.get(t).map(colArr).getOrElse(Double.NaN)).toArray
      }
    TsFrame(allTs, low.columns ++ high.columns, expand(low, lowPos) ++ expand(high, highPos))
  }

  def buildConversionMatrix(
      lowTs: IndexedSeq[LocalDate],
      lowFreq: Frequency,
      highTs: IndexedSeq[LocalDate],
      factor: Int,
      aggFunc: String): DenseMatrix[Double] = {
    val useYear = lowFreq.cls == FreqClass.Yearly
    def key(d: LocalDate): (Int, Int) =
      if (useYear) (d.getYear, 0) else (d.getYear, (d.getMonthValue - 1) / 3)

    val nLow = lowTs.length
    val nHigh = highTs.length
    val periodToRow = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Int]
    lowTs.zipWithIndex.foreach { case (d, i) => periodToRow(key(d)) = i }

    val groups = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Int]]
    highTs.zipWithIndex.foreach { case (d, j) =>
      groups.getOrElseUpdate(key(d), scala.collection.mutable.ArrayBuffer.empty[Int]) += j
    }

    val c = DenseMatrix.zeros[Double](nLow, nHigh)
    groups.foreach { case (k, idx) =>
      periodToRow.get(k).foreach { row =>
        var fill = aggFunc match {
          case "sum" | "first" | "last" => 1.0
          case "mean"                   => 1.0 / factor
          case _                        => DisaggCore.fail("Invalid method")
        }
        if (idx.length != factor) fill = 0.0
        aggFunc match {
          case "first" => c(row, idx.head) = fill
          case "last"  => c(row, idx.last) = fill
          case _       => idx.foreach(j => c(row, j) = fill)
        }
      }
    }
    c
  }

  private val Pattern = "^(B?)(Y|Q|M)(E|S)(?:-([A-Z]{3}))?$".r

  def parse(s: String): Option[Frequency] = s match {
    case Pattern(b, c, es, anchorStr) =>
      val cls = c match {
        case "Y" => FreqClass.Yearly
        case "Q" => FreqClass.Quarterly
        case "M" => FreqClass.Monthly
      }
      val anchor = Option(anchorStr).map(a => Frequency.MONTHS.indexOf(a) + 1)
      if (anchor.contains(0)) None
      else if (cls == FreqClass.Monthly && anchor.isDefined) None
      else Some(Frequency(cls, es == "S", b == "B", anchor))
    case _ => None
  }

  def infer(dates: IndexedSeq[LocalDate]): Option[Frequency] = {
    if (dates.length < 3) return None
    val allFirst = dates.forall(_.getDayOfMonth == 1)
    val allLast = dates.forall(d => d.getDayOfMonth == YearMonth.from(d).lengthOfMonth)
    val allFirstBiz = !allFirst &&
      dates.forall(d => d == Calendar.rollWeekendForward(d.withDayOfMonth(1)))
    val allLastBiz = !allLast &&
      dates.forall(d => d == Calendar.rollWeekendBack(
        d.withDayOfMonth(YearMonth.from(d).lengthOfMonth)))
    if (!allFirst && !allLast && !allFirstBiz && !allLastBiz) return None
    val monthDiffs = dates.sliding(2).map { case Seq(a, b) =>
      (b.getYear - a.getYear) * 12 + (b.getMonthValue - a.getMonthValue)
    }.toSeq
    val step = monthDiffs.head
    if (!monthDiffs.forall(_ == step)) return None
    val isStart = allFirst || allFirstBiz
    val business = allFirstBiz || allLastBiz
    val m0 = dates.head.getMonthValue
    step match {
      case 1 => Some(Frequency(FreqClass.Monthly, isStart, business, None))
      case 3 =>
        val anchor = (m0 % 3) match {
          case 1 => 10
          case 2 => 11
          case 0 => 12
        }
        Some(Frequency(FreqClass.Quarterly, isStart, business, Some(anchor)))
      case 12 => Some(Frequency(FreqClass.Yearly, isStart, business, Some(m0)))
      case _ => None
    }
  }

  def companionIndex(
      lowDates: IndexedSeq[LocalDate],
      lowFreq: Frequency,
      targetFreq: Frequency): IndexedSeq[LocalDate] = {
    require(lowFreq.cls.order > targetFreq.cls.order)
    val offsetMonths = lowFreq.offsetMonthsTo(targetFreq).get
    var start = lowDates.head
    var end = lowDates.last
    if (targetFreq.isStart) end = end.plusMonths(offsetMonths.toLong)
    else start = start.minusMonths(offsetMonths.toLong)
    if (targetFreq.business) {
      start = Calendar.businessAdjust(start, adjustForward = false)
      end = Calendar.businessAdjust(end, adjustForward = true)
    }
    onOffsetFrom(targetFreq, start).takeWhile(!_.isAfter(end)).toIndexedSeq
  }

  private def dateInMonth(f: Frequency, ym: YearMonth): LocalDate =
    if (f.isStart) {
      val first = ym.atDay(1)
      if (f.business) Calendar.rollWeekendForward(first) else first
    } else {
      val last = ym.atEndOfMonth()
      if (f.business) Calendar.rollWeekendBack(last) else last
    }

  private def anchorMonthOk(f: Frequency, month: Int): Boolean = f.cls match {
    case FreqClass.Monthly   => true
    case FreqClass.Quarterly => ((month - f.anchorOrDefault) % 3 + 3) % 3 == 0
    case FreqClass.Yearly    => month == f.anchorOrDefault
  }

  private def onOffsetFrom(f: Frequency, start: LocalDate): Iterator[LocalDate] = {
    var ym = YearMonth.of(start.getYear, start.getMonthValue)
    while (!anchorMonthOk(f, ym.getMonthValue)) ym = ym.plusMonths(1)
    var d = dateInMonth(f, ym)
    while (d.isBefore(start)) { ym = ym.plusMonths(f.stepMonths); d = dateInMonth(f, ym) }
    Iterator.iterate((d, ym)) { case (_, m) =>
      val nm = m.plusMonths(f.stepMonths)
      (dateInMonth(f, nm), nm)
    }.map(_._1)
  }
}
