package graft

import java.time.LocalDate

import scala.io.Source

import graft.disagg.TsFrame
import graft.time.Frequency

/** Loaders for the reference's CSV fixture corpus (copied verbatim from
  * /root/reference/tests/data into src/test/resources/tsdisagg — the R-golden
  * correctness corpus, see FIXTURES.md §A).
  */
object Fixtures {

  private def lines(name: String): Vector[String] = {
    val in = getClass.getResourceAsStream(s"/tsdisagg/$name")
    require(in != null, s"missing fixture $name")
    val src = Source.fromInputStream(in)
    try src.getLines().toVector finally src.close()
  }

  /** Dialect 1: R export `"","x"` — quoted 1-based index + value. */
  def rValues(name: String): Array[Double] =
    lines(name).tail.map { l =>
      val parts = l.split(",")
      parts.last.toDouble
    }.toArray

  /** Single unnamed column (header `"Value"`, no index). */
  def singleCol(name: String): Array[Double] =
    lines(name).tail.map(_.toDouble).toArray

  /** Dialect 2: `period,value` with real dates and empty-string NaNs, which
    * are dropped (mirrors the tests' `.dropna()`).
    */
  def datedValues(name: String): (IndexedSeq[LocalDate], Array[Double]) = {
    val parsed = lines(name).tail.flatMap { l =>
      val parts = l.split(",", -1)
      if (parts.length < 2 || parts(1).trim.isEmpty) None
      else Some((parseDate(parts(0)), parts(1).toDouble))
    }
    (parsed.map(_._1), parsed.map(_._2).toArray)
  }

  private def parseDate(s: String): LocalDate =
    if (s.contains("/")) {
      val Array(y, m, d) = s.split("/").map(_.toInt)
      LocalDate.of(y, m, d)
    } else LocalDate.parse(s)

  def freqDates(start: String, freq: String, n: Int): IndexedSeq[LocalDate] =
    Frequency.parseValidated(freq).nDatesFrom(LocalDate.parse(start), n)

  def frame(ts: IndexedSeq[LocalDate], cols: (String, Array[Double])*): TsFrame =
    TsFrame(ts, cols.map(_._1).toIndexedSeq, cols.map(_._2).toIndexedSeq)

  /** sales_a: annual sales, YS from 1975-01-01 (test_disaggregation.py:157-161). */
  def salesA: TsFrame = {
    val v = rValues("sales_a.csv")
    frame(freqDates("1975-01-01", "YS", v.length), "sales" -> v)
  }

  /** exports_q / imports_q: QS-OCT from 1972-01-01 (:163-173). */
  def exportsQ: TsFrame = {
    val v = rValues("exports_q.csv")
    frame(freqDates("1972-01-01", "QS-OCT", v.length), "exports" -> v)
  }
  def importsQ: TsFrame = {
    val v = rValues("imports_q.csv")
    frame(freqDates("1972-01-01", "QS-OCT", v.length), "imports" -> v)
  }

  /** exports_m: MS from 1972-01-01 (:151-155). */
  def exportsM: TsFrame = {
    val v = rValues("exports_m.csv")
    frame(freqDates("1972-01-01", "MS", v.length), "exports" -> v)
  }

  def withConstant(f: TsFrame, name: String = "constant"): TsFrame =
    TsFrame(f.ts, f.columns :+ name, f.data :+ Array.fill(f.nRows)(1.0))

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before the listener is added and again before it is removed, so the
    * count holds exactly the jobs of `body`.
    */
  def jobsOf(spark: org.apache.spark.sql.SparkSession)(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  def assertAllClose(got: Array[Double], want: Array[Double], rtol: Double, what: String): Unit = {
    assert(got.length == want.length, s"$what: length ${got.length} != ${want.length}")
    val bad = got.indices.filter { i =>
      val diff = math.abs(got(i) - want(i))
      diff > rtol * math.abs(want(i)) + 1e-8
    }
    assert(bad.isEmpty,
      s"$what: ${bad.length} mismatches, first at ${bad.headOption.map(i =>
        s"[$i] got=${got(i)} want=${want(i)}")}")
  }
}
