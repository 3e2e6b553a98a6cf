package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made the `Column(expr)` constructor
  * and `.expr` accessor private[sql] (Column is now connect-agnostic); this
  * is the supported classic-backend conversion, re-exported for graft's
  * custom Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runs `body` on `exec` with the caller's thread-locals: the active
    * session, the SparkContext's local properties (job group, scheduler
    * pool, ...) and the job artifact state. A plain pool thread carries none
    * of them, or stale ones inherited from whichever thread created it.
    * The pool thread gets its own state back after `body` returns, but not
    * after it throws, so `body` should return its failure as a value.
    */
  def withThreadLocalCaptured[T](spark: org.apache.spark.sql.SparkSession,
      exec: java.util.concurrent.ExecutorService)(body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)

  /** Blocks until every listener event posted so far has been delivered
    * (the bus is asynchronous), so what a listener has counted is final
    * when this returns.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Re-declare the physical layout of a just-`localCheckpoint`ed frame.
    *
    * On Spark 4.1 with AQE, `repartition(parts, keys).localCheckpoint()`
    * yields a LogicalRDD leaf reporting `UnknownPartitioning(0)` — the
    * checkpoint captures the RDD before the adaptive plan exposes its
    * final partitioning — so every downstream join/agg on the keys
    * re-shuffles a frame that is ALREADY hash-distributed exactly as
    * required (measured: graph_pagerank re-exchanged its materialized
    * edge frame every round). The rows' physical placement IS
    * `HashPartitioning(keys, parts)` by construction (REPARTITION_BY_NUM
    * is exempt from AQE coalescing), so declaring it on the leaf is a
    * statement of fact, not an optimization hint; Catalyst then plans
    * around the checkpoint exactly as it does around a bucketed scan.
    * Only valid when the checkpointed plan really ended in that
    * repartition — the one call site (Fs.materializeTrackedKeyed's small
    * branch) constructs it that way. Frames whose analyzed plan is not a
    * bare LogicalRDD leaf are returned unchanged. Cheap contract checks
    * (r11 ADVICE): each key must resolve to EXACTLY one output attribute
    * (first-name-match on a duplicate-named frame could bind the wrong
    * attribute and silently elide a required Exchange), and the
    * checkpointed RDD must physically have `parts` partitions — a caller
    * whose plan did not end in `repartition(parts, keys)` gets an
    * exception here, not wrong join results downstream.
    *
    * @param sorted also declare a per-partition ascending sort on `keys` —
    *        ONLY when the checkpointed plan ended in
    *        `sortWithinPartitions(keys)` (ascending, nulls first — the
    *        SortOrder declared here). Sort-merge-join consumers then skip
    *        their per-consumer sort of this side as well: the
    *        localCheckpoint analogue of the big branch's bucketBy+sortBy
    *        (one sort paid at write time, not one per round).
    */
  def declareHashPartitioning(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], parts: Int,
      sorted: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        require(lr.rdd.getNumPartitions == parts,
          s"declareHashPartitioning: checkpointed RDD has " +
            s"${lr.rdd.getNumPartitions} partitions, caller claims $parts — " +
            "the plan did not end in repartition(parts, keys)")
        val attrs = keys.map { k =>
          lr.output.filter(_.name == k) match {
            case Seq(one) => one
            case Seq() => throw new IllegalArgumentException(
              s"declareHashPartitioning: no column '$k' in ${lr.output.map(_.name)}")
            case many => throw new IllegalArgumentException(
              s"declareHashPartitioning: ambiguous column '$k' " +
                s"(${many.size} matches) in ${lr.output.map(_.name)}")
          }
        }
        val ordering =
          if (sorted) attrs.map(a => SortOrder(a, Ascending)) else lr.outputOrdering
        val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(spark,
          LogicalRDD(lr.output, lr.rdd, HashPartitioning(attrs, parts),
            ordering, lr.isStreaming, lr.stream)(spark))
      case _ => df
    }
  }
}
