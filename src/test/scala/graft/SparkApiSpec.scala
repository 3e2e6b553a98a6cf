package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.disagg.{DisaggCore, Disaggregate, TsFrame}

/** Drives the DataFrame-level API end-to-end, including the reference's CSV
  * source shape (A1: R-export CSVs with an unnamed index column) read through
  * Spark's CSV reader rather than a test-side loader.
  */
class SparkApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  test("denton golden through spark.read.csv + Disaggregate.series") {
    val url = getClass.getResource("/tsdisagg/sales_a.csv")
    // A1: header `"","x"` — column 0 is a 1-based R row index
    val csv = spark.read.option("header", "true").csv(url.toString)
      .select(col("_c0").cast(IntegerType).as("idx"),
        col("x").cast(DoubleType).as("sales"))
    // attach the YS index the reference tests attach (1975-01-01, yearly)
    val low = csv.select(
      (unix_micros(to_timestamp(lit("1975-01-01"))) +
        (col("idx") - 1).cast(LongType) * lit(0L)).as("dummy"),
      col("idx"), col("sales"))
      .withColumn("ts", to_timestamp(
        concat((lit(1974) + col("idx")).cast(StringType), lit("-01-01"))))
      .select(col("ts"), col("sales"))

    val out = Disaggregate.series(low, None,
      params = Disaggregate.Params(method = "denton", aggFunc = "sum"))
      .orderBy("ts").collect()

    val want = Fixtures.rValues("R_output_denton.csv")
    assert(out.length == want.length)
    Fixtures.assertAllClose(out.map(_.getDouble(1)), want, 1e-5, "spark csv denton")
  }

  test("series and manySeries agree on the same single series") {
    val dir = "/root/testdata/sf0.001"
    val low = spark.read.parquet(s"$dir/orders.parquet")
      .where(year(col("o_orderdate")) < 2001)
      .groupBy(date_trunc("year", col("o_orderdate")).as("ts"))
      .agg(sum("o_totalprice").as("revenue"))
    val single = Disaggregate.series(low, None,
      params = Disaggregate.Params(method = "denton-cholette", targetFreq = Some("QS")))
      .orderBy("ts").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getDouble(1)))
    val keyed = low.withColumn("series_id", lit(7L))
      .select(col("series_id"), col("ts"), col("revenue").as("value"))
    val many = Disaggregate.manySeries(keyed, None,
      params = Disaggregate.Params(method = "denton-cholette", targetFreq = Some("QS")))
      .orderBy("ts").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](1), r.getDouble(2)))
    assert(single.length == many.length && single.nonEmpty)
    single.zip(many).foreach { case ((t1, v1), (t2, v2)) =>
      assert(t1 == t2)
      assert(math.abs(v1 - v2) < 1e-9)
    }
  }

  test("manySeries skips poisoned series instead of failing the job") {
    import spark.implicits._
    // series 1: 5 clean years; series 2: a single observation (the kernel
    // cannot infer a frequency from one point -> must be skipped, not fatal)
    val good = (0 until 5).map(i => (1L, java.sql.Timestamp.valueOf(s"${2000 + i}-01-01 00:00:00"), 100.0 + i))
    val bad = Seq((2L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), 50.0))
    val low = (good ++ bad).toDF("series_id", "ts", "value")
    // skips must be observable, not silent: the accumulator counts exactly
    // the one poisoned series while the good series' output stays intact
    val skipped = spark.sparkContext.longAccumulator("test.manySeries.skipped")
    val out = Disaggregate.manySeries(low, None,
      params = Disaggregate.Params(method = "denton-cholette", targetFreq = Some("QS")),
      skippedSeries = Some(skipped))
      .collect()
    val bySeries = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(bySeries == Map(1L -> 20), s"expected only series 1 (5y x 4q), got $bySeries")
    assert(skipped.value == 1L, s"skipped-series accumulator: ${skipped.value}")
  }

  test("non-UTC session timezone does not shift disaggregation dates") {
    // the NTZ routing keeps wall-clock dates: before it, collected
    // java.sql.Timestamps were re-interpreted in UTC and every date in a
    // UTC+14 session shifted back a day (corrupting calendar period keys)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati") // UTC+14
      val dir = "/root/testdata/sf0.001"
      val low = spark.read.parquet(s"$dir/orders.parquet")
        .groupBy(date_trunc("year", col("o_orderdate")).as("ts"))
        .agg(sum("o_totalprice").as("revenue"))
      val out = Disaggregate.series(low, None,
        params = Disaggregate.Params(method = "denton-cholette", targetFreq = Some("QS")))
        .orderBy("ts").collect()
      val dates = out.map(_.getAs[java.time.LocalDateTime](0).toLocalDate)
      assert(dates.nonEmpty &&
        dates.forall(d => Set(1, 4, 7, 10)(d.getMonthValue) && d.getDayOfMonth == 1),
        s"quarter starts shifted: ${dates.take(4).mkString(",")}")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("agg_func variants roll up correctly (mean / first / last)") {
    val dir = "/root/testdata/sf0.001"
    val low = spark.read.parquet(s"$dir/orders.parquet")
      .where(year(col("o_orderdate")) < 2001)
      .groupBy(date_trunc("year", col("o_orderdate")).as("ts"))
      .agg(avg("o_totalprice").as("avg_price"))
    for (aggFunc <- Seq("mean", "first", "last")) {
      val out = Disaggregate.series(low, None,
        params = Disaggregate.Params(method = "denton-cholette",
          aggFunc = aggFunc, targetFreq = Some("QS")))
      val rolled = out.groupBy(year(col("ts")).as("y"))
        .agg(avg("avg_price").as("mean_v"),
          min_by(col("avg_price"), col("ts")).as("first_v"),
          max_by(col("avg_price"), col("ts")).as("last_v"))
      val joined = low.withColumn("y", year(col("ts"))).join(rolled, "y")
        .select(col("avg_price"), col("mean_v"), col("first_v"), col("last_v"))
        .collect()
      joined.foreach { r =>
        val want = r.getDouble(0)
        val got = aggFunc match {
          case "mean" => r.getDouble(1)
          case "first" => r.getDouble(2)
          case "last" => r.getDouble(3)
        }
        assert(math.abs(got - want) < 1e-6 * math.abs(want),
          s"$aggFunc: $got != $want")
      }
    }
  }

  // (ts, columns...) rows of a TsFrame, in the frame's order
  private def rowsOf(f: TsFrame): (StructType, Seq[Row]) = {
    val schema = StructType(StructField("ts", TimestampNTZType) +:
      f.columns.map(StructField(_, DoubleType)))
    (schema, f.ts.indices.map(i => Row.fromSeq(f.ts(i).atStartOfDay() +: f.data.map(_(i)))))
  }

  private def localDf(f: TsFrame): DataFrame = {
    val (schema, rows) = rowsOf(f)
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The chow-lin golden's inputs as parquet scans, the shape callers pass;
    * the frames are built (and their schemas read) before any counting, so
    * a counting window holds only the jobs of the call itself. */
  private def parquetInputs(): (DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_series_jobs").toString
    localDf(Fixtures.salesA).write.parquet(s"$dir/low")
    localDf(Fixtures.withConstant(Fixtures.exportsQ)).write.parquet(s"$dir/high")
    (spark.read.parquet(s"$dir/low"), spark.read.parquet(s"$dir/high"))
  }

  test("series runs one Spark job per input and none for its output") {
    val (low, high) = parquetInputs()
    def jobsOf(run: => Any): Int = Fixtures.jobsOf(spark)(run)
    val chowLin = Disaggregate.Params(method = "chow-lin", aggFunc = "sum")
    assert(jobsOf(Disaggregate.seriesOutput(low, Some(high), params = chowLin)) == 2,
      "seriesOutput(low, high): one job per input")
    val dc = Disaggregate.Params(method = "denton-cholette", targetFreq = Some("QS"))
    assert(jobsOf(Disaggregate.series(low, None, params = dc).collect()) == 1,
      "series(low).collect(): one job for the input, none for the output")
  }

  /** The QueryExecution of every action `body` runs, in the order Spark
    * reports them to a QueryExecutionListener. */
  private def actionPlans(body: => Any): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = { seen.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    Bridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Whether collecting `df` ran on `df`'s own QueryExecution. */
  private def collectedAsIs(df: DataFrame): Boolean =
    actionPlans(Disaggregate.collectTsFrame(df, "ts", "low_freq_df")).exists(_ eq df.queryExecution)

  test("a repeated series call on one frame collects that frame's own plan") {
    // an NTZ/DOUBLE frame needs no cast, so each call collects the caller's
    // Dataset itself: Spark plans it once, not once per call
    val (low, high) = parquetInputs()
    val chowLin = Disaggregate.Params(method = "chow-lin", aggFunc = "sum")
    val dc = Disaggregate.Params(method = "denton-cholette", targetFreq = Some("QS"))
    for (call <- Seq("first", "second"); (params, h, inputs) <- Seq(
        (chowLin, Some(high), Seq(low, high)), (dc, None, Seq(low)))) {
      val what = s"${params.method}, $call call"
      var jobs = 0
      val plans = actionPlans {
        jobs = Fixtures.jobsOf(spark)(Disaggregate.series(low, h, params = params).collect())
      }
      assert(jobs == inputs.length, s"$what: one job per input, none for the output")
      inputs.foreach(in => assert(plans.count(_ eq in.queryExecution) == 1, s"$what: ${plans.length} plans"))
    }
  }

  test("collectTsFrame gives the same TsFrame whether it collects a frame as it is or casts it") {
    val bits = (a: Array[Double]) => a.map(java.lang.Double.doubleToRawLongBits).toSeq
    def collect(df: DataFrame): TsFrame = Disaggregate.collectTsFrame(df, "ts", "low_freq_df")
    def assertSame(got: TsFrame, want: TsFrame, what: String): Unit = {
      assert(got.ts == want.ts, what)
      assert(got.columns == want.columns, what)
      assert(got.data.map(bits) == want.data.map(bits), what)
    }
    // a DATE ts always takes the projection: cast back to NTZ it is the
    // same midnight, so the two paths collect the same values
    def projected(df: DataFrame): DataFrame = df.withColumn("ts", col("ts").cast(DateType))
    val dir = java.nio.file.Files.createTempDirectory("graft_collect_paths").toString
    val (schema, rows) = rowsOf(Fixtures.salesA)
    spark.createDataFrame(rows.updated(3, Row(rows(3).get(0), null)).asJava, schema).write.parquet(s"$dir/nullv")
    val base = spark.read.parquet(s"$dir/nullv")
    val want = collect(projected(base))
    assert(want.data(0)(3).isNaN && want.data(0).count(_.isNaN) == 1)
    assert(want.ts == Fixtures.salesA.ts)
    val swapped = base.select(col("sales"), col("ts"))
    for ((df, what) <- Seq(base -> "(ts, value)", swapped -> "(value, ts)")) {
      assert(collectedAsIs(df), what)
      assert(!collectedAsIs(projected(df)), what)
      assertSame(collect(df), want, what)
      assertSame(collect(projected(df)), want, s"$what, projected")
    }

    // an INT value column is cast
    val whole = base.select(col("ts"), round(col("sales")).as("sales"))
    val ints = whole.select(col("ts"), col("sales").cast(IntegerType).as("sales"))
    assert(collectedAsIs(whole) && !collectedAsIs(ints))
    assertSame(collect(ints), collect(whole), "INT value")

    // a TIMESTAMP (LTZ) ts is cast to the session's wall clock
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      base.withColumn("ts", col("ts").cast(TimestampType)).write.parquet(s"$dir/ltz")
      val ltz = spark.read.parquet(s"$dir/ltz")
      assert(ltz.schema("ts").dataType == TimestampType && !collectedAsIs(ltz))
      assertSame(collect(ltz), want, "LTZ ts in a non-UTC session")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)

    // a null ts: the reference's message on both paths
    spark.createDataFrame(rows.updated(5, Row(null, 1.0)).asJava, schema).write.parquet(s"$dir/nullts")
    val nullTs = spark.read.parquet(s"$dir/nullts")
    for (df <- Seq(nullTs, projected(nullTs), nullTs.select(col("sales"), col("ts")))) {
      val e = intercept[IllegalArgumentException](collect(df))
      assert(e.getMessage == "Unsupported time value null")
    }

    // duplicate names (as the case-insensitive resolver sees them) are
    // never read by index: two columns keep the projection's analysis
    // error, and one column selected twice still resolves through it
    for (dup <- Seq(
        base.select(col("ts"), col("sales"), col("sales").as("sales")),
        base.select(col("ts"), col("sales"), col("sales").as("SALES")),
        base.select(col("ts"), col("sales"), col("ts").as("ts")))) {
      val e = intercept[AnalysisException](collect(dup))
      assert(e.getCondition == "AMBIGUOUS_REFERENCE", dup.columns.mkString(","))
    }
    val twice = base.select(col("ts"), col("sales"), col("sales"))
    assert(!collectedAsIs(twice))
    assertSame(collect(twice), TsFrame(want.ts, want.columns ++ want.columns, want.data ++ want.data),
      "one column selected twice")
  }

  test("concurrent series calls on one shared frame return the values of a sequential call") {
    // the calls share each frame's one physical plan and execute it at once
    // from several threads; the chow-lin calls also collect their indicator
    // on the graft-series-collect pool
    val (low, high) = parquetInputs()
    val chowLin = Disaggregate.Params(method = "chow-lin", aggFunc = "sum")
    val dc = Disaggregate.Params(method = "denton-cholette", targetFreq = Some("QS"))
    def run(params: Disaggregate.Params, h: Option[DataFrame]): Seq[(java.time.LocalDateTime, Long)] =
      Disaggregate.series(low, h, params = params).collect().toSeq
        .map(r => (r.getAs[java.time.LocalDateTime](0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    val cases = Seq(chowLin -> Some(high), dc -> None)
    val pool = Executors.newFixedThreadPool(4)
    val concurrent = try {
      val futures = (0 until 8).map { i =>
        val (params, h) = cases(i % 2)
        pool.submit(() => run(params, h))
      }
      futures.map(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    cases.zipWithIndex.foreach { case ((params, h), c) =>
      val sequential = run(params, h)
      assert(sequential.nonEmpty)
      concurrent.indices.filter(_ % 2 == c).foreach(i =>
        assert(concurrent(i) == sequential, s"${params.method}, concurrent call $i"))
    }
  }

  test("seriesOutput runs both collects under the caller's job group and scheduler pool") {
    // the indicator is collected on a pool thread: it must carry the
    // caller's local properties, not those of the thread that created it
    val (low, high) = parquetInputs()
    val sc = spark.sparkContext
    val chowLin = Disaggregate.Params(method = "chow-lin", aggFunc = "sum")
    def snapshot = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
      "spark.scheduler.pool", "spark.job.tags", "spark.sql.execution.id").map(k => k -> sc.getLocalProperty(k))
    Disaggregate.seriesOutput(low, Some(high), params = chowLin)
    for (round <- Seq("a", "b")) {
      sc.setJobGroup(s"graft-fence-$round", "seriesOutput thread-local fence")
      sc.setLocalProperty("spark.scheduler.pool", s"graft-pool-$round")
      try {
        val before = snapshot
        val jobs = Fixtures.jobRunsOf(spark)(Disaggregate.seriesOutput(low, Some(high), params = chowLin))
        assert(jobs.length == 2, s"round $round: ${jobs.length} jobs")
        jobs.foreach { j =>
          assert(j.properties.getProperty("spark.jobGroup.id") == s"graft-fence-$round", s"round $round")
          assert(j.properties.getProperty("spark.scheduler.pool") == s"graft-pool-$round", s"round $round")
        }
        assert(snapshot == before, s"round $round: caller's local properties changed")
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty("spark.scheduler.pool", null)
      }
    }
  }

  test("seriesOutput reports low_freq_df's error first and leaves no job running") {
    val (schema, rows) = rowsOf(Fixtures.salesA)
    val (hSchema, hRows) = rowsOf(Fixtures.withConstant(Fixtures.exportsQ))
    // parquet scans, so each collect is a job (a local relation's is not);
    // the indicator's job outlasts the low one, so a call that threw as
    // soon as low failed would leave it running
    val dir = java.nio.file.Files.createTempDirectory("graft_series_errors").toString
    spark.createDataFrame(rows.updated(3, Row(null, 1.0)).asJava, schema).write.parquet(s"$dir/low")
    spark.createDataFrame(hRows.updated(5, Row(null, 1.0, 1.0)).asJava, hSchema).write.parquet(s"$dir/high")
    val slow = udf { (v: Double) => Thread.sleep(20); v }
    val nullLow = spark.read.parquet(s"$dir/low")
    val nullHigh = spark.read.parquet(s"$dir/high").withColumn("exports", slow(col("exports")))
    val textLow = localDf(Fixtures.salesA).withColumn("ts", col("ts").cast(StringType))
    val textHigh = localDf(Fixtures.withConstant(Fixtures.exportsQ)).withColumn("ts", col("ts").cast(StringType))
    val chowLin = Disaggregate.Params(method = "chow-lin", aggFunc = "sum")
    for ((low, high, want) <- Seq(
        (nullLow, nullHigh, "Unsupported time value null"),
        (textLow, textHigh, "No datetime index found on the dataframe passed as argument to low_freq_df."))) {
      var e: IllegalArgumentException = null
      var thrownAt = 0L
      val jobs = Fixtures.jobRunsOf(spark) {
        e = intercept[IllegalArgumentException](Disaggregate.seriesOutput(low, Some(high), params = chowLin))
        thrownAt = System.currentTimeMillis()
        Thread.sleep(1000) // a job the call left behind starts or ends in here
      }
      assert(e.getMessage == want)
      assert(jobs.forall(_.endedAt.exists(_ <= thrownAt)),
        s"$want: a job ended after the call threw, or never: ${jobs.map(_.endedAt)} vs $thrownAt")
    }
  }

  test("series output does not depend on input row order or partitioning") {
    def reversed(f: TsFrame): DataFrame = {
      val (schema, rows) = rowsOf(f)
      spark.createDataFrame(spark.sparkContext.parallelize(rows.reverse, 3), schema)
    }
    val lowF = Fixtures.salesA
    val highF = Fixtures.withConstant(Fixtures.exportsQ)
    val bits = (a: Array[Double]) => a.map(java.lang.Double.doubleToRawLongBits).toSeq
    val chowLin = Disaggregate.Params(method = "chow-lin", aggFunc = "sum")
    val dc = Disaggregate.Params(method = "denton-cholette", aggFunc = "sum", targetFreq = Some("QS"))
    for ((params, high) <- Seq(chowLin -> Some(highF), dc -> None)) {
      val sorted = Disaggregate.seriesOutput(localDf(lowF), high.map(localDf), params = params)
      val shuffled = Disaggregate.seriesOutput(reversed(lowF), high.map(reversed), params = params)
      assert(shuffled.ts == sorted.ts, params.method)
      assert(bits(shuffled.values) == bits(sorted.values), params.method)
    }
    val sortedHigh = Disaggregate.collectTsFrame(localDf(highF), "ts", "high_freq_df")
    val reversedHigh = Disaggregate.collectTsFrame(reversed(highF), "ts", "high_freq_df")
    assert(reversedHigh.ts == sortedHigh.ts)
    assert(reversedHigh.data.map(bits) == sortedHigh.data.map(bits))
  }

  test("series keeps the reference's messages for a null or non-time ts") {
    val (schema, rows) = rowsOf(Fixtures.salesA)
    val withNull = rows.updated(3, Row(null, 1.0))
    val e = intercept[IllegalArgumentException](
      Disaggregate.series(spark.createDataFrame(withNull.asJava, schema)))
    assert(e.getMessage == "Unsupported time value null")
    val asText = localDf(Fixtures.salesA).withColumn("ts", col("ts").cast(StringType))
    val low = intercept[IllegalArgumentException](Disaggregate.series(asText))
    assert(low.getMessage ==
      "No datetime index found on the dataframe passed as argument to low_freq_df.")
    val high = intercept[IllegalArgumentException](
      Disaggregate.series(localDf(Fixtures.salesA), Some(asText)))
    assert(high.getMessage ==
      "No datetime index found on the dataframe passed as argument to high_freq_df.")
  }

  test("manySeries runs its kernel stage on spark.sql.shuffle.partitions tasks") {
    // the stage costs kernel CPU per series, not shuffle bytes: 100 series
    // shuffle a few KB, which AQE alone would coalesce into one task
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (low, high) = Fixtures.keyedFrames(spark, Fixtures.keyedSeries(100))
    for ((params, h) <- Fixtures.manySeriesCases(high)) {
      val stages = Fixtures.stageTasksOf(spark)(Disaggregate.manySeries(low, h, params = params)
        .write.mode("overwrite").format("noop").save())
      val kernel = stages.filter(_.shuffleReadBytes > 0)
      assert(kernel.map(_.tasks) == Seq(width), s"${params.method}: stages $stages")
    }
  }

  test("manySeries output is bit-identical to DisaggCore.run per series, however its input is split") {
    val series = Fixtures.keyedSeries(100)
    val (low, high) = Fixtures.keyedFrames(spark, series)
    val dir = java.nio.file.Files.createTempDirectory("graft_many_split").toString
    val bits = (a: Seq[Double]) => a.map(java.lang.Double.doubleToRawLongBits)
    for (files <- Seq(1, 7)) {
      def written(name: String, df: DataFrame): DataFrame = {
        val path = s"$dir/$name$files"
        df.repartition(files).write.parquet(path)
        val parts = new java.io.File(path).list().count(_.endsWith(".parquet"))
        assert(parts == files, s"$name written as $parts files")
        spark.read.parquet(path)
      }
      val lowIn = written("low", low)
      val highIn = written("high", high)
      for ((p, h) <- Fixtures.manySeriesCases(highIn)) {
        val got = Disaggregate.manySeries(lowIn, h, params = p).collect().groupBy(_.getLong(0))
        assert(got.keySet == series.map(_._1).toSet, s"${p.method} over $files files")
        series.foreach { case (id, l, hf) =>
          val want = DisaggCore.run(l, h.map(_ => hf), p.targetFreq, None, p.aggFunc,
            p.method, p.criterion, p.h, p.optimizerMethod, verbose = false,
            p.lowFreq, p.highFreq, p.optimizerOptions)
          val rows = got(id).sortBy(_.getAs[java.time.LocalDateTime](1))
          val what = s"${p.method} over $files files, series $id"
          assert(rows.map(_.getAs[java.time.LocalDateTime](1).toLocalDate).toSeq == want.ts, what)
          assert(bits(rows.map(_.getDouble(2)).toSeq) == bits(want.values.toSeq), what)
        }
      }
    }
  }

  // Stops the suite's session, so it must stay the last test here.
  test("GraftSession.local gets the JVM-wide settings from build.sbt's javaOptions") {
    // a fresh session, so the check does not depend on which suite built
    // the active one (ExtensionsSpec builds local[2])
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val s = GraftSession.local(4)
    // read from SparkConf: it holds only what was set, so an unset key
    // shows as None instead of Spark's default
    val conf = s.sparkContext.getConf
    assert(conf.getOption("spark.sql.session.timeZone").contains("UTC"))
    assert(conf.getOption("spark.ui.enabled").contains("false"))
    assert(conf.getOption("spark.shuffle.sort.bypassMergeThreshold").contains("0"))
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.master == "local[4]")
  }
}
