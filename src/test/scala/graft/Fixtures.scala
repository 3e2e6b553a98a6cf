package graft

import java.time.LocalDate

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

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

  /** Runs `body` with `listener` on the bus. The bus is drained before the
    * listener is added and again before it is removed, so the listener sees
    * exactly the events of `body`.
    */
  private def listening(spark: SparkSession, listener: SparkListener)(body: => Any): Unit = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs. */
  def jobsOf(spark: SparkSession)(body: => Any): Int = jobRunsOf(spark)(body).length

  /** One started job: its local properties and, if it ended while `body`
    * ran, its end time (epoch ms, the scheduler's clock). */
  final case class JobRun(properties: java.util.Properties, endedAt: Option[Long])

  /** Spark jobs started while `body` runs, in start order. */
  def jobRunsOf(spark: SparkSession)(body: => Any): Seq[JobRun] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    listening(spark, new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { started.add(j); () }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = { ended.put(j.jobId, j.time); () }
    })(body)
    started.asScala.toSeq.map(j => JobRun(j.properties, Option(ended.get(j.jobId)).map(_.longValue)))
  }

  /** One completed stage: its task count and the shuffle bytes it read. */
  final case class StageRun(tasks: Int, shuffleReadBytes: Long)

  /** Spark stages completed while `body` runs, in completion order. */
  def stageTasksOf(spark: SparkSession)(body: => Any): Seq[StageRun] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRun]()
    listening(spark, new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val read = Option(s.stageInfo.taskMetrics).map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L)
        stages.add(StageRun(s.stageInfo.numTasks, read)); ()
      }
    })(body)
    stages.asScala.toSeq
  }

  /** `n` keyed series for the many-series tests: series `s` has 10 yearly
    * values from 2000 and a 40-quarter indicator, each with a per-series
    * phase so no two series are alike. Returns (id, low, high).
    */
  def keyedSeries(n: Int): Seq[(Long, TsFrame, TsFrame)] = {
    val years = freqDates("2000-01-01", "YS", 10)
    val quarters = freqDates("2000-01-01", "QS", 40)
    (0 until n).map { s =>
      val x = Array.tabulate(40)(q => 50.0 + s % 7 + 2.0 * q + 3.0 * math.sin(0.7 * q + s))
      val y = Array.tabulate(10)(t =>
        1.1 * (0 until 4).map(q => x(4 * t + q)).sum + 5.0 * math.sin(1.3 * s + t))
      (s.toLong, frame(years, "value" -> y), frame(quarters, "indicator" -> x))
    }
  }

  /** [[keyedSeries]] as the (series_id, ts, value) low frame and the
    * (series_id, ts, indicator) high frame that `manySeries` reads. */
  def keyedFrames(spark: SparkSession,
      series: Seq[(Long, TsFrame, TsFrame)]): (DataFrame, DataFrame) = {
    def df(valueCol: String, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("series_id", LongType), StructField("ts", TimestampNTZType),
        StructField(valueCol, DoubleType))))
    def rows(id: Long, f: TsFrame): Seq[Row] =
      f.ts.indices.map(i => Row(id, f.ts(i).atStartOfDay(), f.data(0)(i)))
    (df("value", series.flatMap { case (id, low, _) => rows(id, low) }),
      df("indicator", series.flatMap { case (id, _, high) => rows(id, high) }))
  }

  /** The two `manySeries` shapes the keyed-series tests run: chow-lin on
    * the indicator, and denton-cholette with no high side. */
  def manySeriesCases(high: DataFrame): Seq[(graft.disagg.Disaggregate.Params, Option[DataFrame])] = Seq(
    graft.disagg.Disaggregate.Params(method = "chow-lin", aggFunc = "sum") -> Some(high),
    graft.disagg.Disaggregate.Params(method = "denton-cholette", aggFunc = "sum",
      targetFreq = Some("QS")) -> None)

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
