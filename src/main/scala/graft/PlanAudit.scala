package graft

import org.apache.spark.sql.SparkSession

/** Print physical plans for selected queries so shuffle/broadcast/codegen
  * shape can be audited by eye (`runMain graft.PlanAudit [--exec]
  * [names...]`, SPARK_GRAFT_SF_DIR selects the corpus). With `--exec` each
  * query is EXECUTED and the FINAL AQE plan printed with its
  * WholeStageCodegen annotations (the initial `explain` of an adaptive
  * plan shows neither codegen spans nor AQE rewrites; r12 needed the
  * runtime truth to attribute per-row CPU).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val exec = args.headOption.contains("--exec")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // sf0.001 keeps the audit fast, but auto-broadcast fires everywhere at
    // that size — for a bench-faithful plan pass SPARK_GRAFT_SF_DIR=sf0.1
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val given = args.drop(if (exec) 1 else 0).toSeq
    val names = if (given.nonEmpty) given
      else Seq("dedup_embedding_cosine", "cube_revenue", "window_topk_per_group")
    names.foreach { n =>
      println(s"\n=== $n${if (exec) " (executed)" else ""} ===")
      println(if (exec) executedPlanString(spark, dir, n) else plan(spark, dir, n))
    }
    spark.stop()
  }

  /** The final executed plan of a query, run once to completion. */
  private[graft] def executedPlanString(
      spark: SparkSession, dir: String, name: String): String = {
    val df = plannedFrame(spark, dir, name)
    // drive THIS QueryExecution (a writer would execute a clone and leave
    // df's adaptive plan isFinalPlan=false with no codegen spans)
    val _ = df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  /** Formatted physical plan of a declared query — or, for the `__*_loop`
    * pseudo-names, of the graph loops' INTERIOR lazy plan over the REAL
    * corpus edge shape: the queries return the post-finalize materialized
    * read (whose explain is just the final Sort), so the per-round join
    * strategy / exchange placement is only auditable on the un-finalized
    * frame.
    */
  private[graft] def plan(spark: SparkSession, dir: String, name: String): String =
    plannedFrame(spark, dir, name).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  private[graft] def plannedFrame(spark: SparkSession, dir: String,
      name: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    lazy val liRows = t("lineitem").count()
    name match {
      case "__pagerank_loop" =>
        val fwd = t("lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(t("orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("src"),
            (col("o_custkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        graft.ops.Graph.pageRank(edges, damping = 85, maxIter = 3,
          parts = 32, rowsHint = 2L * liRows)
      case _ => SparkEntry.queries(name)(spark, dir)
    }
  }
}
