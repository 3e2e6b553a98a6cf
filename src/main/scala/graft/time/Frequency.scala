package graft.time

import java.time.{LocalDate, YearMonth}

/** Frequency class: yearly / quarterly / monthly (the only classes the
  * reference supports — /root/reference/tsdisagg/time_conversion.py:17-33).
  */
sealed abstract class FreqClass(val longName: String, val code: String, val order: Int)
object FreqClass {
  case object Yearly extends FreqClass("yearly", "Y", 10)
  case object Quarterly extends FreqClass("quarterly", "Q", 9)
  case object Monthly extends FreqClass("monthly", "M", 8)

  val all: Seq[FreqClass] = Seq(Yearly, Quarterly, Monthly)
}

/** A parsed pandas-style frequency alias for the Y/Q/M family.
  *
  * Grammar (reference token sets, time_conversion.py:17-24):
  *   [B] (Y|Q|M) (E|S) [-MMM]     where MMM in JAN..DEC; monthly takes no anchor.
  *
  * `anchor` is a month 1..12. The printed name always carries an anchor for
  * yearly/quarterly (pandas offset `.name` does the same, which is what makes
  * the reference's unconditional `freq.split("-")` safe —
  * time_conversion.py:99), and never for monthly.
  */
final case class Frequency(
    cls: FreqClass,
    isStart: Boolean,
    business: Boolean,
    anchor: Option[Int]
) {
  import Frequency._

  /** Default pandas anchors: begin-anchored offsets default to JAN, end-anchored
    * to DEC (pandas `YS`->YS-JAN, `YE`->YE-DEC, `QS`->QS-JAN, `QE`->QE-DEC).
    */
  def anchorOrDefault: Int = anchor.getOrElse(if (isStart) 1 else 12)

  def base: String =
    (if (business) "B" else "") + cls.code + (if (isStart) "S" else "E")

  /** The canonical printed name (pandas offset `.name` equivalent). */
  def name: String = cls match {
    case FreqClass.Monthly => base
    case _                 => base + "-" + MONTHS(anchorOrDefault - 1)
  }

  /** Conversion factor to a strictly higher frequency
    * (time_conversion.py:30-33); None when the pair is unsupported.
    */
  def factorTo(high: Frequency): Option[Int] = (cls, high.cls) match {
    case (FreqClass.Yearly, FreqClass.Monthly)      => Some(12)
    case (FreqClass.Yearly, FreqClass.Quarterly)    => Some(4)
    case (FreqClass.Quarterly, FreqClass.Monthly)   => Some(3)
    case _                                          => None
  }

  /** Span of (factor-1) high-freq periods, in months
    * (OFFSET_CONVERSIONS, time_conversion.py:35-41).
    */
  def offsetMonthsTo(high: Frequency): Option[Int] = (cls, high.cls) match {
    case (FreqClass.Yearly, FreqClass.Monthly)    => Some(11)
    case (FreqClass.Yearly, FreqClass.Quarterly)  => Some(9)
    case (FreqClass.Quarterly, FreqClass.Monthly) => Some(2)
    case _                                        => None
  }

  /** Auto step-down Y->Q (anchor kept) / Q->M (anchor dropped)
    * (auto_step_down_base_freq, time_conversion.py:85-104).
    */
  def stepDown: Frequency = cls match {
    case FreqClass.Yearly    => copy(cls = FreqClass.Quarterly, anchor = Some(anchorOrDefault))
    case FreqClass.Quarterly => copy(cls = FreqClass.Monthly, anchor = None)
    case FreqClass.Monthly =>
      throw new UnsupportedOperationException(
        "No frequency lower than monthly currently supported")
  }

  /** Months between consecutive observations. */
  def stepMonths: Int = cls match {
    case FreqClass.Yearly    => 12
    case FreqClass.Quarterly => 3
    case FreqClass.Monthly   => 1
  }

  /** The on-offset date within the month containing `ym`'s anchor-valid month.
    * Caller must pass an anchor-compatible month.
    */
  private def dateInMonth(ym: YearMonth): LocalDate =
    if (isStart) {
      val first = ym.atDay(1)
      if (business) Calendar.rollWeekendForward(first) else first
    } else {
      val last = ym.atEndOfMonth()
      if (business) Calendar.rollWeekendBack(last) else last
    }

  /** Is `m` a valid month for this frequency's anchor? (the date iterator's
    * month filter).
    */
  private def anchorMonthOk(month: Int): Boolean = cls match {
    case FreqClass.Monthly   => true
    case FreqClass.Quarterly => ((month - anchorOrDefault) % 3 + 3) % 3 == 0
    case FreqClass.Yearly    => month == anchorOrDefault
  }

  /** Infinite stream of on-offset dates, starting at the first one >= start
    * (the `pd.date_range` roll-forward rule). Single source of truth for all
    * spine generation.
    */
  def onOffsetFrom(start: LocalDate): Iterator[LocalDate] = {
    var ym = YearMonth.of(start.getYear, start.getMonthValue)
    while (!anchorMonthOk(ym.getMonthValue)) ym = ym.plusMonths(1)
    var d = dateInMonth(ym)
    while (d.isBefore(start)) { ym = ym.plusMonths(stepMonths); d = dateInMonth(ym) }
    val first = d
    val firstYm = ym
    Iterator.iterate((first, firstYm)) { case (_, m) =>
      val nm = m.plusMonths(stepMonths)
      (dateInMonth(nm), nm)
    }.map(_._1)
  }

  /** All on-offset dates in [start, end] inclusive. */
  def dateRange(start: LocalDate, end: LocalDate): IndexedSeq[LocalDate] =
    onOffsetFrom(start).takeWhile(!_.isAfter(end)).toIndexedSeq

  def nDatesFrom(start: LocalDate, n: Int): IndexedSeq[LocalDate] =
    onOffsetFrom(start).take(n).toIndexedSeq
}

object Frequency {
  val MONTHS: IndexedSeq[String] =
    IndexedSeq("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
               "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

  private val Pattern = "^(B?)(Y|Q|M)(E|S)(?:-([A-Z]{3}))?$".r

  /** Parse a pandas alias from the reference's valid token sets
    * (time_conversion.py:17-24). Monthly aliases take no anchor.
    */
  def parse(s: String): Option[Frequency] = s match {
    case Pattern(b, c, es, anchorStr) =>
      val cls = c match {
        case "Y" => FreqClass.Yearly
        case "Q" => FreqClass.Quarterly
        case "M" => FreqClass.Monthly
      }
      val anchor = Option(anchorStr).map(a => MONTHS.indexOf(a) + 1)
      if (anchor.contains(0)) None // unknown month token
      else if (cls == FreqClass.Monthly && anchor.isDefined) None
      else Some(Frequency(cls, es == "S", b == "B", anchor))
    case _ => None
  }

  /** validate_freqs equivalent (time_conversion.py:66-71). */
  def parseValidated(s: String): Frequency =
    parse(s).getOrElse(
      throw new UnsupportedOperationException(
        s"Only annual, quarterly and monthly frequencies are supported, found $s"))

  /** Infer frequency from a sorted run of dates — mirrors the subset of
    * `pd.DatetimeIndex.inferred_freq` behavior the reference relies on:
    *   - first-of-month runs: MS / QS-{OCT,NOV,DEC} / YS-{month};
    *   - last-of-month runs: ME / QE-{OCT,NOV,DEC} / YE-{month}.
    * The quarterly anchor is reported in the OCT/NOV/DEC cycle the way pandas
    * does (e.g. Jan/Apr/Jul/Oct starts -> "QS-OCT", Mar/Jun/Sep/Dec -> "QS-DEC";
    * the exports_q fixture and tests/test_disaggregation.py:304 pin this).
    * Returns None for anything else (including sub-monthly spacings).
    */
  def infer(dates: IndexedSeq[LocalDate]): Option[Frequency] = {
    if (dates.length < 3) return None
    val allFirst = dates.forall(_.getDayOfMonth == 1)
    val allLast = dates.forall(d => d.getDayOfMonth == YearMonth.from(d).lengthOfMonth)
    // business variants: every date is the first/last WEEKDAY of its month
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
          case 1 => 10 // OCT
          case 2 => 11 // NOV
          case 0 => 12 // DEC
        }
        Some(Frequency(FreqClass.Quarterly, isStart, business, Some(anchor)))
      case 12 => Some(Frequency(FreqClass.Yearly, isStart, business, Some(m0)))
      case _ => None
    }
  }

  /** make_names_from_frequencies equivalent (time_conversion.py:212-221). */
  def namesFrom(varName: String, low: Frequency, high: Frequency): (String, String) =
    (s"${low.cls.longName}_$varName", s"${high.cls.longName}_$varName")
}
