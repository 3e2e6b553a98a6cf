package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.disagg.TsFrame

/** Seeded input generators. Every input is a pure function of the seed. */
object Inputs {
  /** First year of the single-series and GLS low series. */
  val Y0 = 1980

  private def walk(rng: SplittableRandom, n: Int, start: Double, drift: Double, vol: Double): Array[Double] = {
    val out = new Array[Double](n)
    var v = start
    var i = 0
    while (i < n) {
      v *= math.exp(drift + vol * gauss(rng))
      out(i) = v
      i += 1
    }
    out
  }

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * rng.nextDouble())
  }

  /** `n` period starts from Y0-01-01, `months` apart. */
  def dates(n: Int, months: Int, year0: Int = Y0): IndexedSeq[LocalDate] =
    (0 until n).map(i => LocalDate.of(year0, 1, 1).plusMonths(i.toLong * months))

  /** Annual sums of `hf` (factor values per year) over the first `years` years. */
  private def annualSums(hf: Array[Double], factor: Int, years: Int): Array[Double] =
    Array.tabulate(years)(y => (0 until factor).map(j => hf(y * factor + j)).sum)

  /** An indicator-driven high-frequency truth: a * indicator + AR(1) noise
    * (chow-lin's model), or + a random walk with AR(1) increments
    * (litterman's model) when `integrated`.
    */
  private def truth(rng: SplittableRandom, ind: Array[Double], a: Double, rho: Double, sd: Double,
      integrated: Boolean = false): Array[Double] = {
    var e = 0.0
    var u = 0.0
    ind.map { x =>
      e = rho * e + sd * gauss(rng)
      u = if (integrated) u + e else e
      a * x + u
    }
  }

  /** One reference-shaped problem: the low series, its optional indicator
    * frame, and the disaggregation method to run on it. `input` numbers the
    * problems of one shape.
    */
  final case class Shape(name: String, input: Int, method: String, targetFreq: Option[String],
      low: TsFrame, high: Option[TsFrame]) {
    def label: String = s"$name[$input]"
  }

  /** Problems per chow-lin and litterman shape. How many iterations a fit
    * takes depends on its data, so several problems per shape keep one
    * seed's draw from setting the shape's time.
    */
  val ShapeInputs = 3

  /** BASELINE.md's reference shapes: denton-cholette A->Q n=144,
    * chow-lin A->Q n=158 k=2, litterman A->M n=474 k=2; 36 annual values
    * each. One denton-cholette problem (its cost does not depend on the
    * data) and `ShapeInputs` of each of the others.
    */
  def singleShapes(seed: Long): Seq[Shape] = {
    val rng = new SplittableRandom(seed)
    val years = 36
    val dcLow = TsFrame(dates(years, 12), IndexedSeq("value"),
      IndexedSeq(walk(rng, years, 1000.0, 0.03, 0.05)))
    def indicatorShape(name: String, input: Int, method: String, n: Int, factor: Int, rho: Double): Shape = {
      val ind = walk(rng, n, 100.0, 0.008 * 4 / factor, 0.02)
      val hf = truth(rng, ind, 2.5, rho, 1.0, integrated = method == "litterman")
      val low = TsFrame(dates(years, 12), IndexedSeq("value"), IndexedSeq(annualSums(hf, factor, years)))
      val high = TsFrame(dates(n, 12 / factor), IndexedSeq("indicator", "constant"),
        IndexedSeq(ind, Array.fill(n)(1.0)))
      Shape(name, input, method, None, low, Some(high))
    }
    Shape("dc", 0, "denton-cholette", Some("QS"), dcLow, None) +:
      (0 until ShapeInputs).flatMap(i => Seq(
        indicatorShape("chowlin", i, "chow-lin", 158, 4, 0.7),
        // random-walk noise; about one problem in 30 gives a fit that runs to
        // the optimizer's iteration limit (input 0 of seeds 9 and 26 among
        // 1-60), seconds per call
        indicatorShape("litterman", i, "litterman", 474, 12, 0.0)))
  }

  /** A fixed litterman problem, litterman input 0 of seed 102, whose fit
    * takes about 8 000 objective evaluations and ends with
    * `Optimizer.Result.success` false, at the likelihood optimum.
    */
  def slowLitterman: Shape = singleShapes(102)(2).copy(name = "litterman_slow")

  /** A TsFrame as ([series_id,] ts, columns...) rows and their schema. */
  private def rows(f: TsFrame, key: Option[Long] = None): Seq[Row] =
    f.ts.indices.map { i =>
      Row.fromSeq(key.toSeq ++ (f.ts(i).atStartOfDay() +: f.data.map(_(i))))
    }
  private def schema(f: TsFrame, keyed: Boolean): StructType = StructType(
    (if (keyed) Seq(StructField("series_id", LongType, nullable = false)) else Nil) ++
      (StructField("ts", TimestampNTZType, nullable = false) +:
        f.columns.map(c => StructField(c, DoubleType, nullable = false))))

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, files: Int,
      path: String): DataFrame = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Named series with the same columns as (ts, columns...) parquet
    * inputs, one file each, written by one job: a dataset partitioned by
    * name, each partition's directory read on its own.
    */
  def writeFrames(spark: SparkSession, frames: Seq[(String, TsFrame)], path: String): Map[String, DataFrame] = {
    val rs = frames.flatMap { case (name, f) => rows(f).map(r => Row.fromSeq(name +: r.toSeq)) }
    val sch = StructType(StructField("frame", StringType, nullable = false) +:
      schema(frames.head._2, keyed = false).fields)
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), sch)
      .write.mode("overwrite").partitionBy("frame").parquet(path)
    frames.map { case (name, _) => name -> spark.read.parquet(s"$path/frame=$name") }.toMap
  }

  /** The denton-cholette many-series input: `n` yearly series of 5-9
    * years, starting 1990-2009, with positive values; (series_id, ts,
    * value), one parquet file per core.
    */
  def writeManySeries(spark: SparkSession, seed: Long, n: Long, files: Int, path: String): DataFrame = {
    spark.range(n).select(
        col("id").as("series_id"),
        (lit(5) + pmod(xxhash64(lit(seed), col("id")), lit(5))).as("nyr"),
        (lit(1990) + pmod(xxhash64(lit(seed), col("id"), lit(1)), lit(20))).as("y0"))
      .select(col("series_id"), col("y0"), posexplode(sequence(lit(0), col("nyr") - 1)))
      .select(
        col("series_id"),
        expr("make_timestamp_ntz(y0 + pos, 1, 1, 0, 0, 0)").as("ts"),
        (lit(100.0) + pmod(xxhash64(lit(seed), col("series_id"), col("pos")), lit(10000)) / 100.0 +
          col("pos") * 5.0).as("value"))
      .repartition(files)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The GLS many-series input: `n` chow-lin series, 10 years -> 40
    * quarters, with (indicator, constant) columns in a second input.
    */
  def writeGls(spark: SparkSession, seed: Long, n: Int, files: Int,
      lowPath: String, highPath: String): (DataFrame, DataFrame) = {
    val years = 10
    val frames = (0 until n).map { id =>
      val rng = new SplittableRandom(seed * 1000003L + id)
      val ind = walk(rng, years * 4, 50.0 + 100.0 * rng.nextDouble(), 0.008, 0.02)
      val hf = truth(rng, ind, 1.0 + 3.0 * rng.nextDouble(), 0.5 + 0.4 * rng.nextDouble(), 1.0)
      val low = TsFrame(dates(years, 12), IndexedSeq("value"), IndexedSeq(annualSums(hf, 4, years)))
      val high = TsFrame(dates(years * 4, 3), IndexedSeq("indicator", "constant"),
        IndexedSeq(ind, Array.fill(years * 4)(1.0)))
      (id.toLong, low, high)
    }
    val (_, low0, high0) = frames.head
    (write(spark, frames.flatMap { case (id, l, _) => rows(l, Some(id)) }, schema(low0, keyed = true),
        files, lowPath),
      write(spark, frames.flatMap { case (id, _, h) => rows(h, Some(id)) }, schema(high0, keyed = true),
        files, highPath))
  }

  /** Collects the given series of a (series_id, ts, cols...) input as TsFrames. */
  def keyedFrames(df: DataFrame, ids: Seq[Long]): Map[Long, TsFrame] = {
    val cols = df.columns.filterNot(c => c == "series_id" || c == "ts").toIndexedSeq
    df.filter(col("series_id").isin(ids: _*))
      .select((col("series_id") +: col("ts") +: cols.map(col)): _*)
      .collect().groupBy(_.getLong(0)).map { case (id, rows) =>
        val sorted = rows.sortBy(_.getAs[LocalDateTime](1))
        id -> TsFrame(sorted.map(_.getAs[LocalDateTime](1).toLocalDate).toIndexedSeq, cols,
          cols.indices.map(j => sorted.map(_.getDouble(j + 2))))
      }
  }
}
