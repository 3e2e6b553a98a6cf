package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HashOps, VectorOps}
import org.scalatest.funsuite.AnyFunSuite

/** SparkSessionExtensions: SQL function surface + the HOF->DotProduct
  * optimizer rewrite.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // all suites share one forked JVM: getOrCreate would silently reuse a
    // session built WITHOUT the extensions if another spec's session is
    // already active, so stop it — injected extensions only apply at
    // session construction
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
  }

  test("graft_* functions are callable from SQL") {
    import spark.implicits._
    spark.createDataset(Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), "a b c d")))
      .toDF("va", "vb", "text")
      .createOrReplaceTempView("vecs")
    val r = spark.sql(
      """SELECT graft_dot(va, vb) AS d, graft_squared_norm(va) AS n,
        |  graft_shingles(text, 2) AS sh,
        |  graft_simhash(transform(graft_shingles(text, 1), s -> xxhash64(s))) AS sim,
        |  graft_cosine(va, vb) AS cos,
        |  graft_cosine(array(0.0d, 0.0d), vb) AS cos_zero,
        |  graft_sign_rp(va, 4, 16) AS rp,
        |  graft_rolling_hash(text) AS rh,
        |  graft_md5_low64('abc') AS mh
        |FROM vecs""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == 14.0)
    assert(r.getSeq[String](2) == Seq("a b", "b c", "c d"))
    assert(r.getLong(3) != 0L)
    assert(math.abs(r.getDouble(4) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
    assert(r.isNullAt(5))
    // 4 bands of 16 sign bits, value-equal to the Column API
    assert(r.getSeq[Long](6).length == 4)
    val viaColumn = spark.table("vecs")
      .select(graft.functions.VectorOps.signProjectionBands(col("va"), 4, 16))
      .collect()(0).getSeq[Long](0)
    assert(r.getSeq[Long](6) == viaColumn)
    // "a b c d": byte-level fold (acc*31 + byte) mod M
    val expectRh = "a b c d".getBytes("UTF-8").foldLeft(0L)((acc, b) =>
      (acc * 31L + (b & 0xFF)) % graft.functions.RollingPolyHash.M)
    assert(r.getLong(7) == expectRh)
    // cross-checked against DuckDB: SELECT md5_number_lower('abc')
    assert(r.getLong(8) == 8250560606382298838L)
  }

  test("the optimizer rewrites the HOF dot-product fold into DotProduct") {
    import spark.implicits._
    // non-literal source (a local relation would be constant-folded away
    // before the rule could be observed)
    val df = spark.createDataset(Seq(
        (Array(1.0, 2.0), Array(3.0, 4.0)), (Array(2.0, 1.0), Array(1.0, 1.0))))
      .toDF("a", "b").repartition(2)
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("dot"))
    val plan = hof.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("dotproduct"), s"rule did not fire:\n$plan")
    assert(hof.collect().map(_.getDouble(0)).sorted.toSeq == Seq(3.0, 11.0))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // null rows, empty arrays/strings and a 2-vs-3 length mismatch, read
  // through an exchange so the projection is planned (not folded into a
  // local relation) and runs generated or interpreted code
  private def edgeRows: DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq[(Int, Option[String], Option[Seq[String]],
        Option[Seq[Long]], Option[Seq[Double]], Option[Seq[Double]])](
      (1, Some("The quick brown fox and the lazy dog"), Some(Seq("the", "quick", "fox")),
        Some(Seq(1L, -5L, 42L)), Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, -5.0, 6.0))),
      (2, Some(""), Some(Seq()), Some(Seq()), Some(Seq()), Some(Seq())),
      (3, None, None, None, None, None),
      (4, Some("ab"), Some(Seq("x")), Some(Seq(7L)), Some(Seq(1.0, 2.0)),
        Some(Seq(1.0, 2.0, 3.0)))))
      .toDF("id", "text", "toks", "hs", "va", "vb").repartition(2)
  }

  /** All twelve native expressions, one column each. */
  private val nativeColumns: Seq[Column] = Seq(
    HashOps.minhashSig(col("hs"), 4),
    HashOps.simhash(col("hs")),
    HashOps.md5TokensLow64(col("toks")),
    HashOps.md5Low64(col("text")),
    HashOps.ngramShingles(col("text"), 2),
    HashOps.rollingPolyHash(col("text")),
    graft.ops.TextOps.langIdFeatures(col("text")),
    VectorOps.dot(col("va"), col("vb")),
    VectorOps.squaredNorm(col("va")),
    VectorOps.signProjectionBands(col("va"), 2, 4),
    VectorOps.srpPackedBits(col("va"),
      IndexedSeq(Seq(1.0, -1.0, 1.0), Seq(-1.0, 1.0, 1.0), Seq(1.0, 1.0, -1.0)), 3),
    VectorOps.argmaxCosine(col("va"), Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 1.0)))))

  test("native expressions give the same rows with and without code generation") {
    def run(): Seq[org.apache.spark.sql.Row] =
      edgeRows.select(col("id") +: nativeColumns: _*).collect().sortBy(_.getInt(0)).toSeq
    val generated = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(run())
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run())
    assert(generated == interpreted)
    assert(generated.length == 4)
    // a null input row is null in every column
    assert((1 to nativeColumns.length).forall(generated(2).isNullAt))
    val (full, empty, mismatch) = (generated(0), generated(1), generated(3))
    assert(full.getDouble(8) == 4.0 - 10.0 + 18.0)
    assert(empty.getDouble(8) == 0.0 && empty.getDouble(9) == 0.0)
    // DotProduct over a 2- and a 3-vector, SrpPackedBits over a 2-vector
    // against 3-wide signs: null, not a truncated fold
    assert(mismatch.isNullAt(8) && mismatch.isNullAt(11) && !full.isNullAt(11))
    assert(full.getLong(4) == HashOps.md5Low64Bytes(
      "The quick brown fox and the lazy dog".getBytes("UTF-8")))
    assert(full.getSeq[Long](3) ==
      Seq("the", "quick", "fox").map(graft.ops.Sketches.md5Low64String))
  }

  test("a wrong-typed argument fails analysis") {
    import spark.implicits._
    for (q <- Seq("graft_dot('a', 'b')", "graft_squared_norm('a')",
        "graft_shingles(array(1L), 2)", "graft_minhash_sig('x', 4)",
        "graft_simhash('x')", "graft_md5_low64(array(1L))",
        "graft_rolling_hash(array(1.0d))", "graft_sign_rp('x', 2, 4)",
        "graft_cosine('a', 'b')"))
      intercept[AnalysisException](spark.sql(s"SELECT $q AS r"))
    val wrong = Seq((1L, "s")).toDF("n", "s")
    for (c <- Seq(HashOps.md5TokensLow64(col("s")),
        graft.ops.TextOps.langIdFeatures(col("n")),
        VectorOps.srpPackedBits(col("s"), IndexedSeq(Seq(1.0)), 1),
        VectorOps.argmaxCosine(col("n"), Seq((0L, Seq(1.0))))))
      intercept[AnalysisException](wrong.select(c))
  }
}
