package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark-SQL-dialect formulations of the §2.A relational inventory — the
  * same queries as Queries.table's DataFrame plans, runnable through
  * `spark.sql` against temp views of the testdata tables (SURVEY §7.8:
  * every relational operator must also be expressible as SQL text). The
  * DuckDB oracle strings live on the same Queries.table rows; these differ
  * only where the dialects do (epoch_us vs unix_micros, list vs array
  * functions).
  */
object SqlQueries {

  /** Register one temp view per testdata table. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    graft.streaming.StreamingOps.events(spark, dir)
      .createOrReplaceTempView("events")
  }

  val sql: Map[String, String] = Map(
    "a1_scan_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "a5_rename_projection" ->
      """SELECT o_orderkey, o_totalprice AS yearly_revenue
        |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin,
    "a7_period_keys" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m, date_trunc('quarter', o_orderdate) AS quarter_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "a8_group_agg" ->
      """SELECT year(l_shipdate) AS y,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / count(*) AS mean_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0d - l_discount) AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY y""".stripMargin,
    "a8_group_first_last" ->
      """SELECT year(o_orderdate) AS y,
        |  min_by(o_totalprice, CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) * 1000000000L + o_orderkey) AS first_price,
        |  max_by(o_totalprice, CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) * 1000000000L + o_orderkey) AS last_price
        |FROM orders GROUP BY 1 ORDER BY y""".stripMargin,
    "a9_having_complete" ->
      """SELECT year(l_shipdate) AS y, count(DISTINCT month(l_shipdate)) AS n_months,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1
        |HAVING count(DISTINCT month(l_shipdate)) = 12 ORDER BY y""".stripMargin,
    "a10_sequence_spine" ->
      """SELECT explode(sequence(lo, hi, interval 1 month)) AS ts
        |FROM (SELECT date_trunc('month', min(l_shipdate)) AS lo,
        |             date_trunc('month', max(l_shipdate)) AS hi FROM lineitem)
        |ORDER BY ts""".stripMargin,
    "a6_outer_join_align" ->
      """WITH low AS (
        |  SELECT date_trunc('year', o_orderdate) AS ts,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS yearly_revenue
        |  FROM orders GROUP BY 1),
        |high AS (
        |  SELECT date_trunc('month', l_shipdate) AS ts,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS monthly_gross
        |  FROM lineitem GROUP BY 1)
        |SELECT COALESCE(low.ts, high.ts) AS ts, yearly_revenue, monthly_gross
        |FROM low FULL OUTER JOIN high ON low.ts = high.ts ORDER BY ts""".stripMargin,
    "a12_dropna_recover_low" ->
      """WITH low AS (
        |  SELECT date_trunc('year', o_orderdate) AS ts,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS yearly_revenue
        |  FROM orders GROUP BY 1),
        |high AS (
        |  SELECT date_trunc('month', l_shipdate) AS ts,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS monthly_gross
        |  FROM lineitem GROUP BY 1)
        |SELECT COALESCE(low.ts, high.ts) AS ts, yearly_revenue
        |FROM low FULL OUTER JOIN high ON low.ts = high.ts
        |WHERE yearly_revenue IS NOT NULL ORDER BY ts""".stripMargin,
    "a13_resample_quarter" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', l_shipdate) AS ts,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1)
        |SELECT date_trunc('quarter', ts) AS qs, min_by(qty, ts) AS first_qty,
        |  CAST(CAST(sum(CAST(qty AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty
        |FROM monthly GROUP BY 1 ORDER BY qs""".stripMargin,
    "a4_validation_stats" ->
      """SELECT min(o_orderdate) AS start_ts, max(o_orderdate) AS end_ts,
        |  count(*) AS n_rows,
        |  sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS n_null
        |FROM orders""".stripMargin,
    "rollup_revenue" ->
      """SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue, count(*) AS n
        |FROM orders GROUP BY ROLLUP (1, 2)
        |ORDER BY y ASC NULLS FIRST, q ASC NULLS FIRST""".stripMargin,
    "cube_revenue" ->
      """SELECT year(o_orderdate) AS y,
        |  CAST(split(o_orderpriority, '-')[0] AS INT) AS pri,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM orders GROUP BY CUBE (1, 2)
        |ORDER BY y ASC NULLS FIRST, pri ASC NULLS FIRST""".stripMargin,
    "window_topk_per_group" ->
      """SELECT * FROM (
        |  SELECT year(o_orderdate) AS y, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY year(o_orderdate)
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY y, rk""".stripMargin,
    "agg_stats_moments" ->
      """WITH base AS (
        |  SELECT year(l_shipdate) AS y, count(*) AS n,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS STRING) AS DOUBLE) AS sum_qty,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))) AS STRING) AS DOUBLE) AS sum_price,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(12,4))) AS STRING) AS DOUBLE) AS sum_qty2,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(12,4))) AS STRING) AS DOUBLE) AS sum_price2,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(12,4))) AS STRING) AS DOUBLE) AS sum_qty_price
        |  FROM lineitem GROUP BY 1)
        |SELECT y, n, sum_qty, sum_price,
        |  ((CAST(n AS DOUBLE) * sum_qty_price) - (sum_qty * sum_price)) /
        |    sqrt((CAST(n AS DOUBLE) * sum_qty2 - sum_qty * sum_qty) *
        |      (CAST(n AS DOUBLE) * sum_price2 - sum_price * sum_price)) AS corr_qty_price,
        |  sqrt((CAST(n AS DOUBLE) * sum_qty2 - sum_qty * sum_qty) /
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev_qty,
        |  sqrt((CAST(n AS DOUBLE) * sum_price2 - sum_price * sum_price) /
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev_price
        |FROM base ORDER BY y""".stripMargin,
    "window_mom_delta" ->
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('MONTH', o_orderdate) AS TIMESTAMP_NTZ) AS m,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT m, revenue, lag(revenue, 1) OVER (ORDER BY m) AS prev_revenue
        |  FROM monthly)
        |SELECT m, revenue, prev_revenue,
        |  revenue - prev_revenue AS delta,
        |  (revenue - prev_revenue) / prev_revenue AS pct_change
        |FROM lagged ORDER BY m""".stripMargin,
    "agg_quantiles" ->
      """WITH r AS (
        |  SELECT year(o_orderdate) AS y, o_totalprice,
        |    row_number() OVER (PARTITION BY year(o_orderdate)
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY year(o_orderdate)) AS n
        |  FROM orders)
        |SELECT y, max(n) AS n_orders,
        |  min(o_totalprice) AS p_min,
        |  min(CASE WHEN rn = ceil(n * 0.25) THEN o_totalprice END) AS p25,
        |  min(CASE WHEN rn = ceil(n * 0.5) THEN o_totalprice END) AS p50,
        |  min(CASE WHEN rn = ceil(n * 0.75) THEN o_totalprice END) AS p75,
        |  max(o_totalprice) AS p_max
        |FROM r GROUP BY y ORDER BY y""".stripMargin,
    "unpivot_metrics" ->
      """WITH base AS (
        |  SELECT year(o_orderdate) AS y,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue,
        |    CAST(count(*) AS DOUBLE) AS n_orders,
        |    max(o_totalprice) AS max_price
        |  FROM orders GROUP BY 1)
        |SELECT y, metric, value FROM (
        |  SELECT y, 'revenue' AS metric, revenue AS value FROM base
        |  UNION ALL SELECT y, 'n_orders', n_orders FROM base
        |  UNION ALL SELECT y, 'max_price', max_price FROM base)
        |ORDER BY y, metric""".stripMargin,
    "sessionize_events" ->
      """WITH e AS (
        |  SELECT user_id, event_id, unix_micros(ts) AS ts_us, value FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us, value,
        |    CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |         WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sessions AS (
        |  SELECT user_id, ts_us, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, min(ts_us) AS session_start_us,
        |  max(ts_us) AS session_end_us, count(*) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)

  def run(spark: SparkSession, dir: String, name: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(sql(name))
  }
}
