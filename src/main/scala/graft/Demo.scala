package graft

import org.apache.spark.sql.functions._

import graft.disagg.Disaggregate

/** Sample-through-the-public-surface driver: runs the flagship disaggregation
  * on the sf0.001 tables, prints the head of the result, and checks the
  * aggregation-consistency invariant `C y_hat = y` that defines temporal
  * disaggregation (SURVEY.md §0).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()

    val out = SparkEntry.entry(spark)
    println(s"flagship rows: ${out.count()}")
    out.orderBy("ts").show(6, truncate = false)

    // aggregation consistency: yearly sums of the monthly output must equal
    // the yearly input for every complete year
    val low = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .groupBy(date_trunc("year", col("o_orderdate")).as("ts"))
      .agg(sum("o_totalprice").as("revenue"))
    val rolled = out.groupBy(year(col("ts")).as("y"))
      .agg(sum(out.columns.last).as("rolled"), count(lit(1)).as("n_months"))
      .where(col("n_months") === 12) // incomplete years are dropped (A9)
    val check = low.withColumn("y", year(col("ts")))
      .join(rolled, "y")
      .select(col("y"), col("revenue"), col("rolled"),
        abs(col("revenue") - col("rolled")).as("abs_err"))
      .orderBy("y")
    check.show(10, truncate = false)
    val maxErr = check.agg(max("abs_err")).collect()(0).getDouble(0)
    println(f"max aggregation-consistency error over complete years: $maxErr%.3e")
    spark.stop()
  }
}
