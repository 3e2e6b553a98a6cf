package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.disagg.Disaggregate

/** The fixed entry points `entry`, `queries` and `oracleSql` (SURVEY.md §7). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * Temporal disaggregation end-to-end on the TPC-H-ish tables: yearly order
    * revenue (low frequency) is disaggregated to a monthly series using
    * monthly lineitem gross revenue as the Chow-Lin indicator. The final year
    * has an incomplete monthly group and is dropped with a warning — the
    * reference's A9 semantics (ts_disagg.py:398-404).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val low = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(date_trunc("year", col("o_orderdate")).as("ts"))
      .agg(sum("o_totalprice").as("revenue"))
    val high = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(date_trunc("month", col("l_shipdate")).as("ts"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("lx"))
      .withColumn("constant", lit(1.0))
    Disaggregate.series(low, Some(high),
      params = Disaggregate.Params(method = "chow-lin", aggFunc = "sum"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles
}
