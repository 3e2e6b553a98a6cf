package graft.disagg

import java.time.{LocalDate, LocalDateTime}
import java.util.Locale
import java.util.concurrent.{ExecutorService, Executors}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

// Row shapes for the many-series mode. Top-level and public: Catalyst's
// generated encoder classes live outside this package and cannot touch
// private case classes. LocalDateTime fields encode as TIMESTAMP_NTZ, so
// the per-series kernels see wall-clock dates regardless of the session or
// executor-JVM timezone.
case class KeyedLow(series_id: Long, ts: LocalDateTime, value: Double)
case class KeyedHigh(series_id: Long, ts: LocalDateTime, values: Array[Double])
case class KeyedOut(series_id: Long, ts: LocalDateTime, value: Double)

/** Spark-facing temporal disaggregation API — the engine's equivalent of the
  * reference's single public entry point `disaggregate_series`
  * (/root/reference/tsdisagg/ts_disagg.py:302-472).
  *
  * Two execution shapes:
  *  - [[series]]: one series. The frame is tiny (n = O(10^3)), so each input
  *    costs ONE Spark job: it is collected unordered and sorted on the
  *    driver. A frame already in the NTZ/DOUBLE shape is collected as it
  *    is, so a repeated call on one frame reuses its plan; one whose
  *    columns need a cast is re-projected, and so re-planned, on each
  *    call. With an indicator the two jobs overlap, the indicator's on
  *    a second driver thread: most of a one-task job is fixed set-up (codegen,
  *    broadcasts, closure cleaning), not the scan. The kernel runs on the
  *    driver, and the result comes back as a local relation, which
  *    `collect()` reads without a job. Spark's job here is I/O + validation
  *    pushdown, not the O(n^3) solve.
  *  - [[manySeries]]: millions of independent series keyed by an id column.
  *    Both inputs are hash-partitioned by the key into a width fixed at the
  *    operator and cogrouped (ONE shuffle each, then embarrassingly parallel
  *    kernels inside executors; no driver collect) — this is the 100 TB
  *    design: scale comes from series-parallelism, never from distributing
  *    one series' linear algebra (SURVEY.md §7.8). The width is fixed
  *    because the kernel stage costs CPU per series, not bytes: AQE would
  *    coalesce its ~130 B per series onto one or two cores.
  */
object Disaggregate {

  final case class Params(
      targetFreq: Option[String] = None,
      targetColumn: Option[String] = None,
      aggFunc: String = "sum",
      method: String = "denton-cholette",
      criterion: String = "proportional",
      h: Int = 1,
      optimizerMethod: String = "nelder-mead",
      verbose: Boolean = false,
      lowFreq: Option[String] = None,
      highFreq: Option[String] = None,
      optimizerOptions: Optimizer.Options = Optimizer.Options())

  // Time columns are routed through TIMESTAMP_NTZ before leaving Spark:
  // the NTZ external type is wall-clock (LocalDateTime), so the calendar
  // day a user sees is preserved no matter what spark.sql.session.timeZone
  // or the JVM default is.
  private[graft] def toLocalDate(v: Any): LocalDate = v match {
    case dt: LocalDateTime => dt.toLocalDate
    case other => throw new IllegalArgumentException(s"Unsupported time value $other")
  }

  // Wall-clock order of the NTZ external type, shared by both execution shapes.
  private val byDateTime: Ordering[LocalDateTime] = (a, b) => a.compareTo(b)

  /** Collect a (tsCol, value...) DataFrame into a sorted in-memory TsFrame.
    * Validation mirrors ts_disagg.py:216-231 (message text pinned by the
    * reference's error-path tests).
    *
    * One job: the rows are collected unordered and sorted on the driver
    * (stable, on the full timestamp). A global `orderBy` would plan a range
    * exchange, which costs a sampling job and a shuffle stage on top of the
    * result stage, for a frame of at most a few thousand rows.
    *
    * A frame whose ts is already TIMESTAMP_NTZ, whose other columns are
    * already DOUBLE and whose names are distinct (what [[series]] returns)
    * is collected as it is and read by index: Spark keeps that Dataset's
    * QueryExecution, so a repeated call on one frame analyses, optimises
    * and plans it once. Any other schema is cast by a fresh projection,
    * planned again on every call.
    */
  private[graft] def collectTsFrame(df: DataFrame, tsCol: String, role: String): TsFrame = {
    val schema = df.schema
    val tsField = schema.fields.find(_.name == tsCol)
    val isTime = tsField.exists(f => f.dataType match {
      case TimestampType | DateType | TimestampNTZType => true
      case _ => false
    })
    if (!isTime)
      DisaggCore.fail(s"No datetime index found on the dataframe passed as argument to $role.")
    val valueCols = schema.fields.filter(_.name != tsCol).map(_.name).toIndexedSeq
    // distinct as the default (case-insensitive) resolver sees them: a
    // duplicate name keeps the projection, which resolves it as it always has
    val asIs = tsField.exists(_.dataType == TimestampNTZType) &&
      schema.fields.forall(f => f.name == tsCol || f.dataType == DoubleType) &&
      schema.fieldNames.map(_.toLowerCase(Locale.ROOT)).distinct.length == schema.length
    val (collected, tsIdx, valueIdx) =
      if (asIs) (df.collect(), schema.fieldIndex(tsCol), schema.fields.indices.filter(schema(_).name != tsCol))
      else (df
        // NTZ cast: collected values become wall-clock LocalDateTime, immune
        // to the session/JVM timezone (a non-UTC zone would otherwise shift
        // every date by up to a day and corrupt calendar period keys)
        .select((col(tsCol).cast(TimestampNTZType) +:
          valueCols.map(c => col(c).cast(DoubleType))): _*)
        .collect(), 0, valueCols.indices.map(_ + 1))
    // nulls first, as in an ascending orderBy; toLocalDate rejects them below
    val rows = collected.sortBy(r => Option(r.getAs[LocalDateTime](tsIdx)))(Ordering.Option(byDateTime))
    val ts = rows.map(r => toLocalDate(r.get(tsIdx))).toIndexedSeq
    val data = valueIdx.map { j =>
      rows.map(r => if (r.isNullAt(j)) Double.NaN else r.getDouble(j))
    }
    TsFrame(ts, valueCols, data)
  }

  /** Daemon threads for [[seriesOutput]]'s indicator collect, one per
    * concurrent call; a thread idle for a minute exits. */
  private lazy val collectPool: ExecutorService = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-series-collect")
    t.setDaemon(true)
    t
  }

  /** Single-series disaggregation: DataFrame in, DataFrame(ts, <target>) out. */
  def series(
      lowFreqDf: DataFrame,
      highFreqDf: Option[DataFrame] = None,
      tsCol: String = "ts",
      params: Params = Params()): DataFrame = {
    val spark = lowFreqDf.sparkSession
    val out = seriesOutput(lowFreqDf, highFreqDf, tsCol, params)
    toDataFrame(spark, out, tsCol)
  }

  /** Like [[series]] but returning the full result (optimizer diagnostics,
    * rho/sigma/beta estimates, dropped dates) — the `return_optim_res=True`
    * surface (ts_disagg.py:469-471).
    */
  def seriesOutput(
      lowFreqDf: DataFrame,
      highFreqDf: Option[DataFrame] = None,
      tsCol: String = "ts",
      params: Params = Params()): DisaggOutput = {
    val (low, high) = highFreqDf match {
      case None => (collectTsFrame(lowFreqDf, tsCol, "low_freq_df"), None)
      case Some(hdf) =>
        // the two one-task jobs overlap: high on a pool thread that carries
        // the caller's job group, scheduler pool and session, low here. The
        // high collect always ends before this returns or throws, and a
        // failure of low wins over one of high, as when they ran in turn.
        val pending = Bridge.withThreadLocalCaptured(hdf.sparkSession, collectPool)(
          Try(collectTsFrame(hdf, tsCol, "high_freq_df")))
        val lowTry = Try(collectTsFrame(lowFreqDf, tsCol, "low_freq_df"))
        val highTry = pending.join()
        (lowTry.get, Some(highTry.get))
    }
    DisaggCore.run(low, high, params.targetFreq, params.targetColumn, params.aggFunc,
      params.method, params.criterion, params.h, params.optimizerMethod, params.verbose,
      params.lowFreq, params.highFreq, params.optimizerOptions)
  }

  /** The result as a local relation: the rows live in the plan, so
    * `collect()` on it runs no Spark job.
    */
  private[graft] def toDataFrame(spark: SparkSession, out: DisaggOutput, tsCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(tsCol, TimestampNTZType, nullable = false),
      StructField(out.name, DoubleType, nullable = false)))
    val rows = out.ts.zip(out.values).map { case (d, v) => Row(d.atStartOfDay(), v) }
    spark.createDataFrame(rows.asJava, schema)
  }

  // ---------------------------------------------------------------- manySeries

  /** A group's rows that carry a timestamp, stably sorted by it. */
  private def sortedByTs[T <: AnyRef: ClassTag](rows: Iterator[T])(ts: T => LocalDateTime): Array[T] = {
    val out = rows.filter(ts(_) != null).toArray
    java.util.Arrays.sort(out, (a: T, b: T) => ts(a).compareTo(ts(b)))
    out
  }

  /** The calendar days of sorted rows, as a TsFrame's `ts`. */
  private def dates[T](rows: Array[T])(ts: T => LocalDateTime): IndexedSeq[LocalDate] = {
    val out = new Array[LocalDate](rows.length)
    var i = 0
    while (i < rows.length) { out(i) = ts(rows(i)).toLocalDate; i += 1 }
    ArraySeq.unsafeWrapArray(out)
  }

  /** Disaggregate many independent series in one distributed pass.
    *
    * `low`: (seriesCol, tsCol, valueCol); `high` (optional): (seriesCol,
    * tsCol, indicatorCols...). Each side shuffles ONCE on the series key;
    * the per-series kernel (tiny dense solves) runs inside `cogroup` tasks,
    * so throughput scales linearly with executors and no O(n^2) matrix ever
    * crosses the wire.
    *
    * The kernel stage runs `spark.sql.shuffle.partitions` tasks, fixed here
    * by `repartition(n, series_id)` on each side: AQE never coalesces that
    * exchange. Left to AQE, the stage would be sized by its shuffle bytes
    * (~130 B per series), while its cost is kernel CPU per series
    * (milliseconds for GLS; for a 5-9-year denton-cholette series, 9 µs of
    * `DisaggCore.run` on one core of a 4-core host, down from 22 µs before
    * its steps became merge joins and primitive array fills), so 20 000
    * series would run as 2 tasks and 100 GLS series as 1. Grouping on the
    * column (not a key lambda) lets the cogroup reuse that hash
    * partitioning, so there is still one exchange per side.
    *
    * Series whose kernel fails (bad calendar, singular
    * system) are skipped — at pipeline scale one poisoned series must not
    * kill the job — but never SILENTLY: every skip increments
    * `skippedSeries` (a named accumulator, visible in the Spark UI per
    * stage), so a pipeline can alert on data loss. Pass your own
    * accumulator to read the count after an action; otherwise a fresh
    * `graft.manySeries.skipped` accumulator is registered per call.
    */
  def manySeries(
      low: DataFrame,
      high: Option[DataFrame],
      seriesCol: String = "series_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      indicatorCols: Seq[String] = Seq("indicator"),
      params: Params = Params(),
      skippedSeries: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = low.sparkSession
    import spark.implicits._
    val skipped = skippedSeries.getOrElse(
      spark.sparkContext.longAccumulator("graft.manySeries.skipped"))

    val lowDs: Dataset[KeyedLow] = low.select(
      col(seriesCol).cast(LongType).as("series_id"),
      col(tsCol).cast(TimestampNTZType).as("ts"),
      col(valueCol).cast(DoubleType).as("value")).as[KeyedLow]

    val highDs: Dataset[KeyedHigh] = high match {
      case Some(hdf) => hdf.select(
        col(seriesCol).cast(LongType).as("series_id"),
        col(tsCol).cast(TimestampNTZType).as("ts"),
        array(indicatorCols.map(c => col(c).cast(DoubleType)): _*).as("values")).as[KeyedHigh]
      case None => spark.emptyDataset[KeyedHigh]
    }

    val hasHigh = high.isDefined
    val indNames = indicatorCols.toIndexedSeq
    val p = params

    // The key is declared nullable on both sides: cogroup needs equal key
    // schemas, and the inputs (or the empty high side) may disagree. A null
    // id still fails the key's not-null check, as it always has.
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def bySeries[T: Encoder](ds: Dataset[T]): KeyValueGroupedDataset[Long, T] = {
      val id = Bridge.column(KnownNullable(Bridge.expression(col("series_id"))))
      ds.withColumn("series_id", id).repartition(width, col("series_id"))
        .groupBy(col("series_id")).as[Long, T]
    }

    val out = bySeries(lowDs).cogroup(bySeries(highDs)) {
      (key, lowIt, highIt) =>
        // the ENTIRE per-series pipeline sits inside the try: a malformed
        // series (null timestamps, ragged indicators, bad calendar) is
        // skipped — at pipeline scale one poisoned series must not kill
        // the job
        try {
          val lowRows = sortedByTs(lowIt)(_.ts)
          if (lowRows.isEmpty) Iterator.empty
          else {
            val lowFrame = TsFrame(dates(lowRows)(_.ts), IndexedSeq(valueCol),
              IndexedSeq(lowRows.map(_.value)))
            val highFrame: Option[TsFrame] = if (!hasHigh) None else {
              val hr = sortedByTs(highIt)(_.ts)
              if (hr.isEmpty) None
              else Some(TsFrame(dates(hr)(_.ts), indNames,
                indNames.indices.map(j => hr.map(_.values(j)))))
            }
            val res = DisaggCore.run(lowFrame, highFrame, p.targetFreq, None, p.aggFunc,
              p.method, p.criterion, p.h, p.optimizerMethod, verbose = false,
              p.lowFreq, p.highFreq, p.optimizerOptions)
            Iterator.tabulate(res.values.length)(i =>
              KeyedOut(key, res.ts(i).atStartOfDay(), res.values(i)))
          }
        } catch {
          // counted, not silent: accumulators from retried/speculative
          // tasks can overcount, so treat the value as an alert signal
          // (zero IS exact: no task ever skipped)
          case _: Exception => skipped.add(1L); Iterator.empty
        }
    }
    out.toDF(seriesCol, tsCol, valueCol)
  }
}
