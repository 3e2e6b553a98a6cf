package graft.util

/** The ONE recursive temp-dir delete (review r6: three verbatim copies had
  * grown in StreamingOps / TableLayout / Queries). Best-effort by design —
  * staged corpora and scratch dirs are disposable, and a racing delete or
  * late-closing handle must never fail the query that staged them.
  */
object Fs {
  def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach { f => java.nio.file.Files.deleteIfExists(f); () }
        finally walk.close()
      }
    } catch { case _: java.io.IOException => () }

  /** Scratch parquet dirs backing LAZY frames still in flight — deleted at
    * JVM exit only. The durable sibling of [[deleteRecursively]] for
    * [[materialize]]'s big branch.
    */
  private val deferred =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    val _ = sys.addShutdownHook { deferred.forEach(deleteRecursively(_)) }
  }
  def deferDelete(p: java.nio.file.Path): Unit = { deferred.add(p); () }

  /** Rows from which [[materialize]] and its siblings spill to scratch
    * parquet instead of `localCheckpoint` blocks.
    */
  val BigRows: Long = 20000000L

  /** Row count of `df`'s parquet inputs from their FOOTERS: the sum of
    * `getRecordCount` over the files behind the plan's parquet leaves, read
    * on the driver, with no Spark job. It counts the files, not the frame:
    * a filter or join above the scan is not applied, so it bounds a 1:1
    * projection exactly and anything else only loosely. `None` when the
    * plan has no parquet file leaf (a checkpointed, cached, local or
    * non-parquet source); callers with no tighter bound then pass
    * `footerRows(input).getOrElse(0L)`, which keeps `localCheckpoint`.
    * To size work by the frame's own rows, use [[rowCount]].
    */
  def footerRows(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    val files = df.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(parquetFiles).flatten.distinct
    if (files.isEmpty) None else Some(footerSum(df, files))
  }

  /** The rows of `df`, the one way `src/main` counts rows to size work.
    * When the optimized plan is only `Project`s over one parquet scan the
    * footer sum is exact and is read with no Spark job; any other plan (a
    * filter, join, generator, range, cache or checkpoint) runs `count()`.
    */
  def rowCount(df: org.apache.spark.sql.DataFrame): Long = {
    @scala.annotation.tailrec
    def scan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Seq[String]] =
      p match {
        case org.apache.spark.sql.catalyst.plans.logical.Project(_, child) => scan(child)
        case leaf => parquetFiles(leaf)
      }
    scan(df.queryExecution.optimizedPlan).fold(df.count())(footerSum(df, _))
  }

  /** The files behind a parquet `HadoopFsRelation` leaf; `None` for any other node. */
  private def parquetFiles(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Seq[String]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    p match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[
          org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          Some(h.location.inputFiles.toSeq)
        case _ => None
      }
      case _ => None
    }
  }

  private def footerSum(df: org.apache.spark.sql.DataFrame, files: Seq[String]): Long = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(org.apache.parquet
        .hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Live deferred scratch dirs — the observable for the no-leak
    * discipline (r7 VERDICT #8): iterative operators must free their loop
    * scratch before returning, so a long bench session's deferred count
    * stays bounded by the number of LIVE lazy results, not by rounds run.
    */
  private[graft] def deferredCount: Int = deferred.size()

  /** A materialized frame plus the scratch dir / catalog table (if any)
    * backing it. Iterative loops call [[free]] on round k's handle once
    * round k+1 has been WRITTEN (the write inside [[materializeTracked]]
    * is eager, so the old data is no longer an input to anything) —
    * without this, a loop of R rounds at the 1000× decade accumulates R
    * full-frame disk copies until JVM exit (r6 ADVICE). Exit-time deletion
    * stays as the fallback for handles never freed.
    */
  /** CONTRACT NOTE (r10 ADVICE): a big-branch handle implies the owning
    * session now carries `spark.sql.legacy.bucketedTableScan
    * .outputOrdering=true` for its remaining lifetime (and for sessions
    * cloned afterward) — see the rationale at the set site below; the
    * fence (only `graft_`-prefixed scratch tables are ever bucketed, so
    * the flag never touches a user table's planning) is pinned by
    * PlanInvariantsSpec's sticky-flag test.
    */
  final case class Materialized(
      df: org.apache.spark.sql.DataFrame,
      scratch: Option[java.nio.file.Path],
      table: Option[(org.apache.spark.sql.SparkSession, String)] = None) {
    def free(): Unit = {
      table.foreach { case (spark, name) =>
        try spark.sql(s"DROP TABLE IF EXISTS $name") catch { case _: Throwable => () }
      }
      scratch.foreach { p =>
        deferred.remove(p)
        deleteRecursively(p)
      }
      // small branch (localCheckpoint): the checkpoint blocks live in the
      // CACHING layer and otherwise persist for the session — an iterative
      // loop below bigRows would pin one full-frame block copy per round
      // (r7 ADVICE: the exact accumulation free() exists to prevent, just
      // in storage instead of on disk). Unpersist the checkpointed RDD
      // behind the LogicalRDD leaf; best-effort, the handle is dead either
      // way.
      if (scratch.isEmpty && table.isEmpty)
        try df.queryExecution.analyzed.collectLeaves().foreach {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false); ()
          case _ => ()
        } catch { case _: Throwable => () }
    }
  }

  /** Materialize an intermediate frame that multiple downstream consumers
    * re-read. `localCheckpoint` is the cheap default, but its blocks live
    * in the CACHING layer: under memory pressure an evicted checkpoint
    * block is UNRECOVERABLE (the lineage is severed) and big intermediates
    * pin gigabytes of storage memory against execution — the
    * graph-at-1000× OOM class. From `bigRows` ([[BigRows]], 2·10⁷) rows
    * up, spill the frame to a scratch PARQUET dir instead (columnar,
    * compressed, read back lazily; the cluster-filesystem shape of a
    * checkpoint) and keep the dir until JVM exit (or until the caller frees
    * the [[Materialized]] handle).
    *
    * This object is the only place in `src/main` that calls
    * `localCheckpoint` (PlanInvariantsSpec's source fence). `rowsHint` is
    * the tightest upper bound on the frame's rows the caller has without a
    * new Spark job: a structural one first (`limit(k)` gives k, a per-day
    * audit days × quantiles), then a count the caller already computed,
    * and last the input's [[footerRows]].
    */
  def materialize(df: org.apache.spark.sql.DataFrame, rowsHint: Long,
      bigRows: Long = BigRows): org.apache.spark.sql.DataFrame =
    materializeTracked(df, rowsHint, bigRows).df

  def materializeTracked(df: org.apache.spark.sql.DataFrame, rowsHint: Long,
      bigRows: Long = BigRows): Materialized =
    if (rowsHint < bigRows) Materialized(df.localCheckpoint(), None)
    else {
      val tmp = java.nio.file.Files.createTempDirectory("graft_mat")
      deferDelete(tmp)
      df.write.parquet(tmp.resolve("d").toString)
      Materialized(df.sparkSession.read.parquet(tmp.resolve("d").toString), Some(tmp))
    }

  /** [[materialize]] for a frame the caller wants HASH-PARTITIONED on
    * `keys` for downstream co-location: the repartition belongs on the
    * SMALL branch only. localCheckpoint preserves its child's
    * partitioning, so checkpointing `repartition(parts, keys)` saves every
    * downstream join/agg on the keys an Exchange — but a parquet
    * round-trip LOSES partitioning entirely, so on the big branch the
    * pre-write exchange is pure cost, and a wide one at that: the
    * 1000×-decade run of graph_pagerank OOMed in exactly that 512-way
    * sort-shuffle (32 concurrent map tasks × ~384 MB pointer-array
    * doublings on a 1.2e9-row frame, r7). Big branch = write the frame
    * AS PRODUCED, read back lazily; downstream ops insert their own
    * exchange, which they would have needed after the round-trip anyway.
    */
  private val tableSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[materializeTrackedKeyed]] needs COLUMN NAMES for the big branch's
    * bucketBy; keyed callers pass names and we build the columns.
    *
    * Small branch: `repartition(parts, keys).localCheckpoint()`, with the
    * layout RE-DECLARED on the checkpointed leaf
    * (Bridge.declareHashPartitioning) — on Spark 4.1 + AQE the checkpoint
    * itself reports UnknownPartitioning, which silently re-introduced one
    * full-frame exchange per consumer (r11 finding; the partitioning-
    * preserved fence in PlanInvariantsSpec pins the repaired behavior).
    * Downstream joins/aggs on the keys then reuse the layout (the
    * CLAUDE.md loop-shuffle rule).
    *
    * Big branch: a plain parquet round-trip LOSES partitioning, so every
    * loop round would re-shuffle the full frame — at the 1000× decade that
    * is a 12 GB spill-heavy exchange PER ROUND and it OOMed an 8 GB heap
    * (r7, graph_pagerank's 10⁹-edge frame). Instead write a BUCKETED
    * external table (`bucketBy(parts, keys)` into a scratch dir, in-memory
    * catalog): the bucketed scan reports HashPartitioning(keys, parts), so
    * per-round equi-joins/aggs on the keys read the buckets in place and
    * only the node-sized side moves — the cluster answer (a bucketed
    * lakehouse table) expressed locally. One `repartition(parts, keys)`
    * before the write keeps it to one file per bucket. [[Materialized.free]]
    * drops the table and deletes the dir.
    */
  def materializeTrackedKeyed(df: org.apache.spark.sql.DataFrame,
      parts: Int, keys: Seq[String], rowsHint: Long,
      bigRows: Long = BigRows): Materialized = {
    val keyCols = keys.map(df.col)
    if (rowsHint < bigRows)
      // r11: on Spark 4.1 + AQE the checkpointed leaf reports
      // UnknownPartitioning — the repartition's layout must be re-declared
      // on the LogicalRDD or every downstream join/agg re-shuffles the
      // frame (graph_pagerank measured a full edge-frame exchange per
      // round; the whole point of this branch is to not pay that). See
      // Bridge.declareHashPartitioning's contract note.
      // sortWithinPartitions before the checkpoint + a sorted declaration:
      // SMJ consumers then read this side in place with NO per-consumer
      // sort — one sort paid at write time, exactly the big branch's
      // bucketBy+sortBy shape (r10's stream-ER lesson), now on the cheap
      // branch too
      Materialized(org.apache.spark.sql.graftbridge.Bridge.declareHashPartitioning(
        df.repartition(parts, keyCols: _*).sortWithinPartitions(keyCols: _*)
          .localCheckpoint(), keys, parts, sorted = true), None)
    else {
      val spark = df.sparkSession
      // Spark ≥3.0 reports a bucketed scan's per-bucket SORT order only
      // behind this flag (SPARK-28542 lineage), and only after re-checking
      // that every bucket is a single file — which the repartition below
      // guarantees for our scratch tables. Without it the sortBy'd write
      // still helps (near-sorted runs sort cheaply, keys compress better)
      // but every sort-merge-join consumer re-sorts this side; with it the
      // scan carries the ordering and the SMJ sort disappears
      // (PlanInvariantsSpec pins the no-Sort plan). Sticky set-once on the
      // session, deliberately NOT the conf-scoped-child pattern: the conf
      // must be live wherever the returned frame is consumed, it only
      // changes plans over single-file-per-bucket SORTED bucketed tables
      // (exactly these scratch tables), and in that case only by removing
      // a provably redundant sort.
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val tmp = java.nio.file.Files.createTempDirectory("graft_mat")
      deferDelete(tmp)
      val name = s"graft_mat_${tableSeq.incrementAndGet()}_${
        java.lang.Long.toHexString(System.nanoTime())}"
      // bucketBy + sortBy + one file per bucket (the repartition above):
      // the bucketed scan then reports BOTH HashPartitioning(keys, parts)
      // and a per-bucket sort order, so downstream sort-merge joins on the
      // keys skip not just the Exchange but the per-consumer SORT of this
      // frame — one sort paid at write time instead of one per join (per
      // ROUND, for the iterative loops; per MICRO-BATCH for the streaming
      // stream-static joins, where the r10 decade-4 attribution found the
      // repeated big-side sort to be the dominant constant).
      df.repartition(parts, keyCols: _*)
        .write
        .option("path", tmp.resolve("t").toString)
        .bucketBy(parts, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(name)
      Materialized(spark.table(name), Some(tmp), Some((spark, name)))
    }
  }
}
