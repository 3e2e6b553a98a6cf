package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bucket-load diagnostics for the simhash candidate-generation layouts:
  * per-dir max/over-cap counts for the 4×16-bit banded keys
  * (Dedup.simhashPairs) and the 6-block/20-table ~32-bit compound keys
  * (Dedup.simhashPairsBlocked). The banded exactness claim dies silently
  * when a bucket passes `maxBucket` (the valve drops it), so this is the
  * check to run against a NEW corpus or scale decade before trusting the
  * banded variant — the four-decade sweep showed max-load growing
  * 317 → ~600 → 1073 → (this tool) per decade on the template-heavy drop.
  *
  * Usage: `runMain graft.BucketLoad <dir> [cap]` (default cap 8192).
  */
object BucketLoad {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cap = args.drop(1).headOption.map(_.toInt).getOrElse(8192)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sig = docs.select(col("doc_id"),
      graft.ops.Dedup.simhash64(col("text")).as("sig")).cache()

    val banded = sig.select(explode(array((0 until 4).map { b =>
      struct(lit(b).as("t"),
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }: _*)).as("bk"))
    report(spark, "banded_4x16", banded, cap)

    val widths = Seq(11, 11, 11, 11, 10, 10)
    val offsets = widths.scanLeft(0)(_ + _).init
    def block(i: Int) = shiftright(col("sig"), offsets(i))
      .bitwiseAND(lit((1L << widths(i)) - 1))
    val blocked = sig.select(explode(array(
      (0 until 6).combinations(3).toSeq.zipWithIndex.map { case (bl, tid) =>
        struct(lit(tid).as("t"),
          shiftleft(block(bl(0)), 22).bitwiseOR(shiftleft(block(bl(1)), 11))
            .bitwiseOR(block(bl(2))).as("key"))
      }: _*)).as("bk"))
    report(spark, "blocked_6c3", blocked, cap)
    spark.stop()
  }

  private def report(spark: SparkSession, label: String,
      keyed: org.apache.spark.sql.DataFrame, cap: Int): Unit = {
    val r = keyed.groupBy(col("bk.t"), col("bk.key")).count()
      .agg(max("count").as("max_bucket"),
        expr(s"count(case when count > $cap then 1 end)").as("over_cap"),
        expr("count(case when count > 1 then 1 end)").as("active_buckets"))
      .collect()(0)
    println(s"BUCKETLOAD $label max=${r.getLong(0)} over_cap(${cap})=${r.getLong(1)} " +
      s"active=${r.getLong(2)}")
  }
}
