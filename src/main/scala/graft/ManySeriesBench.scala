package graft

/** Many-series throughput at an arbitrary series count:
  * `runMain graft.ManySeriesBench <nSeries> [nSeries...]` — the decade
  * ladder of the SURVEY §6 claim (N independent yearly series
  * disaggregated to quarterly inside cogroup tasks, one shuffle). Bench
  * pins the 10⁴/10⁵/10⁶ rungs every round; this main exists for one-off
  * higher rungs (10⁷ = the fourth decade) without inflating Bench's
  * per-round runtime.
  */
object ManySeriesBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val ns = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1000000)
    ns.foreach { n =>
      val sec = Bench.manySeriesSec(spark, n)
      println(f"MANYSERIES n=$n%-9d sec=$sec%.3f")
    }
    spark.stop()
  }
}
