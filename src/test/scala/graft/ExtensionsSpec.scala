package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
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
}
