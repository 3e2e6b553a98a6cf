package graft.time

import java.time.{LocalDate, YearMonth}

import scala.collection.immutable.ArraySeq

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

  /** The month of the first on-offset date >= `start` (the `pd.date_range`
    * roll-forward rule). Single source of truth for all spine generation.
    */
  private def firstOnOffsetMonth(start: LocalDate): YearMonth = {
    var ym = YearMonth.of(start.getYear, start.getMonthValue)
    while (!anchorMonthOk(ym.getMonthValue)) ym = ym.plusMonths(1)
    while (dateInMonth(ym).isBefore(start)) ym = ym.plusMonths(stepMonths)
    ym
  }

  /** Infinite stream of on-offset dates, starting at the first one >= start. */
  def onOffsetFrom(start: LocalDate): Iterator[LocalDate] =
    Iterator.iterate(firstOnOffsetMonth(start))(_.plusMonths(stepMonths)).map(dateInMonth)

  /** All on-offset dates in [start, end] inclusive. */
  def dateRange(start: LocalDate, end: LocalDate): IndexedSeq[LocalDate] = {
    var ym = firstOnOffsetMonth(start)
    // every date lies in its own month, so the months up to end's bound the count
    val months = (end.getYear - ym.getYear) * 12 + (end.getMonthValue - ym.getMonthValue)
    val out = new Array[LocalDate](math.max(0, months / stepMonths + 1))
    var m = 0
    var d = dateInMonth(ym)
    while (!d.isAfter(end)) {
      out(m) = d
      m += 1
      ym = ym.plusMonths(stepMonths)
      d = dateInMonth(ym)
    }
    ArraySeq.unsafeWrapArray(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  def nDatesFrom(start: LocalDate, n: Int): IndexedSeq[LocalDate] =
    onOffsetFrom(start).take(n).toIndexedSeq
}

object Frequency {
  val MONTHS: IndexedSeq[String] =
    IndexedSeq("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
               "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

  /** Parse a pandas alias from the reference's valid token sets
    * (time_conversion.py:17-24): the whole string must match
    * `B?(Y|Q|M)(E|S)(-MMM)?` with MMM one of [[MONTHS]], and monthly aliases
    * take no anchor. A character scan, so the per-series target alias costs
    * no regex match.
    */
  def parse(s: String): Option[Frequency] = {
    val business = s.startsWith("B")
    val i = if (business) 1 else 0
    if (s.length < i + 2) return None
    val cls = s.charAt(i) match {
      case 'Y' => FreqClass.Yearly
      case 'Q' => FreqClass.Quarterly
      case 'M' => FreqClass.Monthly
      case _   => return None
    }
    val isStart = s.charAt(i + 1) match {
      case 'S' => true
      case 'E' => false
      case _   => return None
    }
    val rest = s.length - (i + 2)
    if (rest == 0) Some(Frequency(cls, isStart, business, None))
    else if (rest != 4 || s.charAt(i + 2) != '-' || cls == FreqClass.Monthly) None
    else {
      val month = MONTHS.indexOf(s.substring(i + 3))
      if (month < 0) None else Some(Frequency(cls, isStart, business, Some(month + 1)))
    }
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
    val n = dates.length
    if (n < 3) return None
    var allFirst = true
    var allLast = true
    var step = 0
    var i = 0
    while (i < n) {
      val d = dates(i)
      val day = d.getDayOfMonth
      if (day != 1) allFirst = false
      if (day != d.lengthOfMonth) allLast = false
      if (i > 0) {
        val p = dates(i - 1)
        val diff = (d.getYear - p.getYear) * 12 + (d.getMonthValue - p.getMonthValue)
        if (i == 1) step = diff
        else if (diff != step) return None
      }
      i += 1
    }
    // business variants: every date is the first/last WEEKDAY of its month.
    // A first-of-month run is never a last-weekday run and vice versa.
    val allFirstBiz = !allFirst && !allLast &&
      dates.forall(d => d == Calendar.rollWeekendForward(d.withDayOfMonth(1)))
    val allLastBiz = !allFirst && !allLast && !allFirstBiz &&
      dates.forall(d => d == Calendar.rollWeekendBack(d.withDayOfMonth(d.lengthOfMonth)))
    if (!allFirst && !allLast && !allFirstBiz && !allLastBiz) return None
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
