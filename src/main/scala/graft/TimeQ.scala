package graft

/** Time selected queries in isolation (steady-state: 2 runs, report both):
  * `SPARK_GRAFT_SF_DIR=... runMain graft.TimeQ name [name...]`.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    args.foreach { n =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIMEQ $n%-30s cold=${times(0)}%.3f warm=${times(1)}%.3f")
    }
    spark.stop()
  }
}
