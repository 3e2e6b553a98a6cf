package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.util.Fs

// Top-level + public: Catalyst encoders cannot touch private case classes.
// `ts` carries the watermark metadata through to flatMapGroupsWithState
// (event-time timeout requires the watermarked column in its child output);
// the session math itself runs on integer micros (ts_us).
// `v4` is the event value scaled to fixed-point 1e-4 units (an exact Long):
// session sums accumulate in integer arithmetic so the streamed sum_value is
// bit-identical to the batch layer's DECIMAL(18,4)->string->double route —
// which is what lets stream_sessionize share the batch DuckDB oracle.
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long, v4: Long)
case class SessionState(startUs: Long, lastUs: Long, n: Long, sum4: Long)
case class SessionOut(
    user_id: Long, session_start_us: Long, session_end_us: Long,
    n_events: Long, sum_value: Double)

// Streaming simhash dedup (top-level + public for Catalyst encoders):
// one arrival per (band, key) bucket per doc; bucket state is the ids and
// signatures seen so far — 16 bytes per (doc, band), the bounded shape.
/** Per-shard accumulator of [[StreamingOps.streamShardShuffle]] — every
  * component associative; heads = "3 smallest of the union" (bottom-k,
  * set-deterministic).
  */
case class ShardAcc(n: Long, tok: Long, checksum: BigInt,
    heads: Seq[(Long, Long)]) {
  def merge(o: ShardAcc): ShardAcc =
    ShardAcc(n + o.n, tok + o.tok, checksum + o.checksum,
      (heads ++ o.heads).sorted.take(3))
}

/** Output row of the streamed shard manifest (top-level per the
  * Dataset-encoder rule).
  */
case class ShardShuffleRow(shard: Long, n_docs: Long, total_tokens: Long,
    key_checksum: Double, head_docs: String, balanced: Boolean)

case class SimhashArrival(band: Int, key: Long, doc_id: Long, sig: Long)
case class SimhashBucketState(ids: Array[Long], sigs: Array[Long])
case class SimhashPairOut(doc_a: Long, doc_b: Long, hamming: Int)

// Streaming ingest pipeline: quality-filtered arrivals keyed by content
// fingerprint; per-fp state is one boolean (seen), so the corpus-side
// state is O(#distinct fingerprints) booleans, never documents.
case class IngestDoc(fp: String, doc_id: Long, lang: String)
case class IngestOut(doc_id: Long, lang: String, fp: String)

/** stream_ewma: one closed day of a series, exact fixed-point total. */
case class EwmaDay(event_type: String, day: Long, d4: Long)
/** stream_ewma state: the last ≤32 daily totals, oldest first. */
case class EwmaRing(ring: Seq[Long])
case class EwmaOut(event_type: String, day: Long, daily_value: Double,
    n_window: Int, ewma: Double)
/** stream_holt_trend output (the window_holt_trend row shape). */
case class HoltOut(event_type: String, day: Long, daily_value: Double,
    n_window: Int, level: Double, trend: Double)

/** stream_anomaly_zscore: one arriving event (hour-truncated micros). */
case class AnomalyEvent(event_type: String, hour_us: Long, event_id: Long)

/** Per-type detector state: the open bucket + the ring of the last 24
  * COMPLETED hourly counts (oldest first).
  */
case class AnomalyState(curHour: Long, curN: Long, ring: List[Long])

case class AnomalyOut(
    event_type: String, hour_us: Long, n: Long,
    mean: Option[Double], variance: Option[Double], z: Option[Double],
    is_anomaly: Boolean)

/** Structured-Streaming surface: the same windowed aggregations the batch
  * layer exposes, expressed as a streaming query so the engine covers
  * continuous ingestion. For the harness staged parquet files are driven
  * through one file source ([[fileStream]]) and one synchronous micro-batch
  * runner ([[runStream]]); on a cluster the identical plan runs against a
  * file/Kafka source with a watermark bounding state.
  */
object StreamingOps {

  /** Run `body` against a CHILD session (`spark.newSession()`: same
    * SparkContext and cached data, OWN runtime conf and streaming-query
    * registry) configured with a reduced shuffle-partition count —
    * streaming state stores cost per-partition setup, and these bounded
    * demo streams don't need the batch layer's parallelism. Setting that
    * on the CALLER's session (the previous set/restore-in-finally shape)
    * leaked n=8 to any query running concurrently on it — the same
    * concurrency hazard the CC loop had; the child's conf dies with it.
    * Builder-level configs (session timezone, extensions) are inherited
    * from the shared SparkConf, so plans resolve identically.
    */
  private val childSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Int, Boolean), SparkSession]

  /** The caller session's shuffle-partition setting — for DRIVER-FOLD
    * sketch streams (count-min, bottom-k, ridge stats), which keep no
    * per-key state store and whose per-batch aggregations + audit scans
    * are ordinary batch jobs that want full session parallelism. Pinning
    * them to the state-store demos' n=8 cost 7× at the 100× decade
    * (stream_count_min 26.8 s vs the batch twin's 3.8 s).
    */
  private def fullParallelism(outer: SparkSession): Int =
    outer.conf.get("spark.sql.shuffle.partitions").toInt

  /** `diskState = true` routes the query's state store to RocksDB
    * (disk-backed, native memory) instead of the default
    * HDFSBackedStateStoreProvider, whose loaded-version maps live ON THE
    * EXECUTOR HEAP. For queries whose state is CORPUS-SCALE — exact dedup
    * keeps one entry per unique event id, a stream-stream interval join
    * buffers both inputs until the watermark passes — the in-memory
    * provider is a deterministic executor OOM once per-partition state
    * outgrows the heap share: the r8 decade-4 run put 10⁸ dedup keys (×2
    * at-least-once copies) through 8 partitions of one 8 GB JVM and died
    * in exactly this class. On the 1000-executor design target the same
    * math holds per executor, and disk-backed state is the standard
    * answer (RocksDB ships with Spark). Day/window-bounded aggregation
    * state stays on the default provider — eviction already bounds it,
    * and the r7 decade-4 readings on those members are pinned baselines.
    */
  private def withStreamingPartitions[A](spark: SparkSession, n: Int,
      diskState: Boolean = false)(body: SparkSession => A): A = {
    // ONE cached child per (caller session, n, provider): repeated
    // invocations reuse its session state (codegen cache, memory-sink
    // views) exactly as the pre-child-session code reused the caller's —
    // benchmarked +0.4 s per streaming query when a fresh child was
    // created per call. The provider flag is part of the key: RocksDB is
    // set on the CHILD only, so queries sharing the same n never inherit
    // it (the CLAUDE.md conf-scoping rule).
    val ss = childSessions.computeIfAbsent((spark, n, diskState), _ => {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      if (diskState)
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s
    })
    body(ss)
  }

  /** Write `df` as ONE parquet file `<destDir>/<name>.parquet`, made
    * visible with a single atomic move: a running file-stream source can
    * never observe a partial stage, so each staged file is exactly one
    * micro-batch with full-batch sorting (multi-part staging would let a
    * trigger catch half a stage and split it across batches in arbitrary
    * time order). The directory listing stream is closed (each unclosed
    * Files.list leaks a directory handle) and the staging dir removed.
    */
  private[graft] def stageOne(df: DataFrame, destDir: java.nio.file.Path, name: String): Unit = {
    val staging = destDir.resolve(s"_stage_$name")
    df.coalesce(1).write.parquet(staging.toString)
    val listing = java.nio.file.Files.list(staging)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    java.nio.file.Files.move(part, destDir.resolve(s"$name.parquet"))
    Fs.deleteRecursively(staging)
  }

  /** Parallel multi-file staging for streams whose fold is CHUNKING-
    * INDEPENDENT (count-min is purely additive, bottom-k is a
    * set-deterministic function of the union — both accumulate to the
    * same bits under ANY micro-batch split). One hash-partitioned write
    * job uses every core, then each part file is moved up to become one
    * micro-batch under maxFilesPerTrigger=1. Replaces nParts serial
    * `coalesce(1)` jobs, whose single-threaded parquet encode of the
    * full corpus dominated stream_count_min at the 1000x decade
    * (e3 = 1.14 was staging, not the sketch fold). NOT for streams whose
    * choreography gives micro-batch CONTENT meaning (late-data nudge
    * batches, sessionize phases) — those keep [[stageOne]].
    */
  private[graft] def stageParts(df: DataFrame, destDir: java.nio.file.Path,
      baseName: String, nParts: Int, partKey: Column): Unit = {
    val staging = destDir.resolve(s"_stage_$baseName")
    df.repartition(nParts, partKey).write.parquet(staging.toString)
    val listing = java.nio.file.Files.list(staging)
    val parts =
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.toVector
          .filter(_.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
      } finally listing.close()
    require(parts.size >= 2,
      s"parallel staging of $baseName produced ${parts.size} file(s); " +
        "chunk-independent streams still need >=2 micro-batches")
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.move(p, destDir.resolve(s"$baseName$i.parquet")); ()
    }
    Fs.deleteRecursively(staging)
  }

  /** The ONE file-stream source: the parquet files of `dir` matching
    * `glob`, replayed `filesPerTrigger` files per micro-batch — staged
    * files ARE the batch boundaries.
    */
  private def fileStream(spark: SparkSession, schema: StructType, dir: String,
      filesPerTrigger: Int = 1, glob: String = "*.parquet"): DataFrame =
    spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)

  /** The events TABLE as a file stream (the source dir is the table dir,
    * glob-filtered to the events file; ts normalized as in [[events]]).
    * Returns a source builder: the schema is read once, and a self-join
    * calls the builder once per side.
    */
  private def eventsStream(spark: SparkSession, dir: String): () => DataFrame = {
    // see normalizeTs: nanosAsLong is harmless on micros files and required
    // to read the NANOS encoding at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    () => normalizeTs(fileStream(spark, schema, dir, glob = "events.parquet"))
  }

  /** The ONE micro-batch runner every stream in this object starts through:
    * `sink` picks the sink, the query starts and drains
    * (processAllAvailable), then each staging step runs and the query
    * drains again — the choreography of streams whose arrival order IS the
    * semantics (sessionize phases, incremental disagg batches). Those pass
    * the default `ProcessingTime(0)` trigger: AvailableNow stops at the
    * files present at start. The query is stopped, and a checkpoint the
    * runner created is deleted, in a `finally` — a failed micro-batch (the
    * simhash bucket cap) leaves neither behind. A caller-owned
    * `checkpoint` survives, so a later run on the same path resumes from
    * it: source offsets, the sink's file log, the state store.
    */
  private def runStream(stream: DataFrame, name: String,
      checkpoint: Option[java.nio.file.Path] = None, mode: String = "append",
      trigger: Trigger = Trigger.AvailableNow(), steps: Seq[() => Unit] = Nil)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val ck = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory(s"graft_${name}_ck"))
    try {
      val q = sink(stream.writeStream.outputMode(mode).trigger(trigger)
        .option("checkpointLocation", ck.toString)).start()
      try {
        q.processAllAvailable()
        steps.foreach { step => step(); q.processAllAvailable() }
      } finally q.stop()
    } finally if (checkpoint.isEmpty) Fs.deleteRecursively(ck)
  }

  /** Memory-table sink, for day/window-BOUNDED output only (it collects
    * every emission onto the driver heap). One table name per (kind, child
    * session): the cached child is reused across calls, so a same-named
    * query an earlier call left active is stopped first.
    */
  private def runToMemory(stream: DataFrame, kind: String,
      mode: String = "append"): DataFrame = {
    val spark = stream.sparkSession
    val name = s"stream_${kind}_${math.abs(System.identityHashCode(spark))}"
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    runStream(stream, kind, mode = mode)(_.format("memory").queryName(name))
    spark.table(name)
  }

  private def parquetSink(out: java.nio.file.Path)(
      w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.format("parquet").option("path", out.toString)

  /** Drive a finite append-mode stream through a PARQUET file sink and read
    * the result back LAZILY. The memory sink collects every micro-batch's
    * emissions onto the driver heap — fine for day/window-bounded
    * aggregates, a deterministic driver OOM for CORPUS-SCALE output (one
    * row per event/pair/doc/session): stream_sessionize died exactly that
    * way at the 1000× decade before its r7 parquet-sink conversion, and the
    * row-scale emitters (dedup events, click-purchase join, stratified
    * sample, ingest pipeline, simhash pairs) shared the class (r7 VERDICT
    * #1). Each micro-batch streams its emissions straight to
    * executor-written parquet in a scratch dir; the returned frame reads it
    * back with the stream's EXPLICIT schema, so an empty run yields an
    * empty typed frame instead of a schema-inference AnalysisException (r7
    * ADVICE). The sink dir is deferred to JVM-exit deletion (the returned
    * frame is lazy); the runner deletes the engine checkpoint.
    */
  private def runToFileSink(stream: DataFrame, prefix: String,
      trigger: Trigger = Trigger.AvailableNow(),
      steps: Seq[() => Unit] = Nil): DataFrame = {
    val outDir = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_out")
    Fs.deferDelete(outDir)
    runStream(stream, prefix, trigger = trigger, steps = steps)(parquetSink(outDir))
    stream.sparkSession.read.schema(stream.schema).parquet(outDir.toString)
  }

  /** One restartable AvailableNow pass of `stream` into a PERSISTENT
    * parquet sink: unlike [[runToFileSink]] the checkpoint and sink dir
    * survive the call, so a later invocation with the same paths resumes
    * from the engine checkpoint — source offsets, the sink's exactly-once
    * file log, and (for stateful plans) the state store itself. Test
    * surface for the kill-and-resume specs on ENGINE-state streams (the
    * RocksDB-backed members); the driver-fold family has its own
    * state.bin restart contract.
    */
  private[graft] def runRestartablePass(stream: DataFrame,
      ckpt: java.nio.file.Path, out: java.nio.file.Path): Unit =
    runStream(stream, "pass", Some(ckpt))(parquetSink(out))

  /** foreachBatch sink: `f` gets each micro-batch and its batchId. Pass
    * `checkpoint` to make the run restartable (the engine skips committed
    * batches and keeps batchIds stable across the restart).
    */
  private def runForeachBatch(stream: DataFrame, name: String,
      checkpoint: Option[java.nio.file.Path] = None,
      trigger: Trigger = Trigger.AvailableNow(), steps: Seq[() => Unit] = Nil)(
      f: (DataFrame, Long) => Unit): Unit =
    runStream(stream, name, checkpoint, trigger = trigger, steps = steps)(
      _.foreachBatch { (batch: Dataset[Row], batchId: Long) => f(batch, batchId) })

  /** The idempotent `bid=<batchId>` run family (cdc merge, entity
    * resolution, dataset diff): each micro-batch writes, for every
    * (root, derive), `derive(batch)` into `<root>/bid=<batchId>` in
    * overwrite mode. A replay after a crash between write and commit gets
    * the SAME batchId and replaces its own uncommitted attempt, so restart
    * needs only the engine checkpoint — no driver state. Returns the
    * DISTINCT batchIds written: a replay of one batch must not satisfy the
    * multi-batch guard (review r6).
    */
  private def runBatchDirs(stream: DataFrame, name: String,
      checkpoint: Option[java.nio.file.Path])(
      outs: (java.nio.file.Path, DataFrame => DataFrame)*): Set[Long] = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    runForeachBatch(stream, name, checkpoint) { (batch, batchId) =>
      outs.foreach { case (root, derive) =>
        derive(batch).write.mode("overwrite")
          .parquet(root.resolve(s"bid=$batchId").toString)
      }
      ids.add(batchId); ()
    }
    import scala.jdk.CollectionConverters._
    ids.asScala.toSet
  }

  /** The guard every chunked driver-fold / bid-run stream asserts: staging
    * must have produced more than one micro-batch, or the stream exercised
    * no cross-batch merging at all.
    */
  private def requireBatches(n: Int): Unit =
    require(n >= 2, s"chunked staging must yield multiple micro-batches, got $n")

  /** Restartable run of the [[streamDedupEvents]] plan over a staged chunk
    * dir (normalized-events schema; one file per micro-batch). The spec
    * stages more chunks — including re-delivered in-watermark duplicates —
    * between calls and asserts the resumed RocksDB dedup state still
    * yields the batch answer.
    */
  private[graft] def dedupEventsResumeRun(outer: SparkSession,
      src: java.nio.file.Path, schema: StructType,
      ckpt: java.nio.file.Path, out: java.nio.file.Path): Unit =
    withStreamingPartitions(outer, 8, diskState = true) { spark =>
      runRestartablePass(
        dedupEventsStream(normalizeTs(fileStream(spark, schema, src.toString))),
        ckpt, out)
    }

  /** Restartable run of the [[streamClickPurchaseJoin]] plan over a staged
    * chunk dir: the spec splits the events table at a timestamp chosen so
    * at least one click/purchase pair STRADDLES the restart boundary —
    * the click's join state must survive the RocksDB checkpoint restore
    * for the pair to emit.
    */
  private[graft] def clickPurchaseResumeRun(outer: SparkSession,
      src: java.nio.file.Path, schema: StructType,
      ckpt: java.nio.file.Path, out: java.nio.file.Path): Unit =
    withStreamingPartitions(outer, 8, diskState = true) { spark =>
      runRestartablePass(clickPurchaseJoined(
        () => normalizeTs(fileStream(spark, schema, src.toString))), ckpt, out)
    }

  /** Restartable run of the [[streamDedupSimhash]] pair stream over a
    * staged chunk dir: near-dup pairs whose members arrive on opposite
    * sides of the restart exercise the resumed per-bucket signature state.
    * Raw emissions land in the sink; the spec applies the cross-band
    * dropDuplicates on its final read, exactly like the production query.
    */
  private[graft] def dedupSimhashResumeRun(outer: SparkSession,
      src: java.nio.file.Path, schema: StructType,
      ckpt: java.nio.file.Path, out: java.nio.file.Path,
      maxHamming: Int = 3, maxBucket: Int = 8192): Unit =
    withStreamingPartitions(outer, 8, diskState = true) { spark =>
      runRestartablePass(
        simhashPairsStream(spark, src.toString, schema, maxHamming, maxBucket),
        ckpt, out)
    }

  /** Staged-corpus caches (r5 VERDICT #4): Bench runs every streaming query
    * three times, and each run re-wrote IDENTICAL staged chunk files — 14
    * queries × ~3 coalesce(1) Spark jobs per sweep of pure redundancy. Two
    * flavors, because the choreographies differ:
    *
    *  - [[stagedCorpus]] — a whole WATCHED directory, for queries that
    *    stage every file BEFORE the stream starts (anomaly, late-data,
    *    stratified, simhash, count-min, bottom-k, ingest). Batch
    *    sequencing under maxFilesPerTrigger=1 rides on file modification
    *    time, so on first build the mtimes are normalized strictly
    *    increasing in staging order (2 s apart) and then never change —
    *    reuse replays the identical batch sequence.
    *  - [[stageOneCached]] — a single staged FILE, for queries that stage
    *    DURING the run (sessionize, incremental disagg, whose two-phase
    *    arrival is the semantics under test). The expensive coalesce(1)
    *    write is cached; each run re-enacts the choreography with a cheap
    *    file copy at the choreography's own moment.
    *
    * Keys are (source dir or caller key, kind): every staged file is a
    * deterministic function of the source corpus, so content never goes
    * stale within a JVM. Cached dirs live for the JVM and are removed by a
    * shutdown hook; per-run watched dirs keep their per-run deletes.
    */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.nio.file.Path]
  private val stagedFiles =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.nio.file.Path]
  locally {
    val _ = sys.addShutdownHook {
      stagedDirs.values().forEach(Fs.deleteRecursively(_))
      stagedFiles.values().forEach(p => Fs.deleteRecursively(p.getParent))
    }
  }

  private def stagedCorpus(dir: String, kind: String)(
      build: java.nio.file.Path => Unit): java.nio.file.Path =
    stagedDirs.computeIfAbsent((dir, kind), _ => {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_stage_$kind")
      build(tmp)
      val listing = java.nio.file.Files.list(tmp)
      val files =
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala.toVector
            .filter(_.toString.endsWith(".parquet"))
        } finally listing.close()
      val base = System.currentTimeMillis()
      files.sortBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
        }
      tmp
    })

  private def stageOneCached(df: => DataFrame, destDir: java.nio.file.Path,
      name: String, cacheKey: Option[String]): Unit = cacheKey match {
    case None => stageOne(df, destDir, name)
    case Some(key) =>
      val cached = stagedFiles.computeIfAbsent((key, name), _ => {
        val cdir = java.nio.file.Files.createTempDirectory("graft_stage_file")
        stageOne(df, cdir, name)
        cdir.resolve(s"$name.parquet")
      })
      val dest = destDir.resolve(s"$name.parquet")
      java.nio.file.Files.copy(cached, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      ()
  }

  /** The shared streamed-documents frame: (doc_id, text, n_chars) — the
    * columns every chunking-independent document stream needs (count-min
    * reads text, the ridge model reads all three), so they share ONE
    * staged corpus per (dir) and Bench stages the documents exactly once.
    */
  private[graft] def stagedDocsFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("n_chars"))

  /** ONE definition of the ~250k-rows-per-file chunk sizing used by every
    * driver-fold stream over a row-shaped element frame (review r6-s3:
    * the constant existed in five copies; a tweak must not desync one
    * stream's chunking from the rest). Returns (nChunks, filesPerTrigger).
    */
  private def rowChunks(nRows: Long): (Int, Int) = {
    val n = math.max(3L, math.min(96L, nRows / 250000L)).toInt
    (n, math.max(1, n / 3))
  }

  /** Parallel-staged micro-batch corpus of [[stagedDocsFrame]]: ~5k docs
    * per file until the 96-file cap binds (~52k docs/file at the 1000×
    * decade), self-sized from the footer count (see [[stageParts]]).
    * Files are deliberately SMALLER than a micro-batch: the file-stream
    * source gives one input split per file, so within-batch parallelism
    * comes from reading `filesPerTrigger` files per trigger — one big file
    * per batch runs each batch's fold on a single core (measured 7× at
    * the 100× decade).
    */
  private[graft] def stagedDocsCorpus(spark: SparkSession, dir: String): (java.nio.file.Path, Int) = {
    val docs = stagedDocsFrame(spark, dir)
    val nDocs = Fs.rowCount(docs)
    val nChunks = math.max(3L, math.min(96L, nDocs / 5000L)).toInt
    (stagedCorpus(dir, "docs3") { t =>
      stageParts(docs, t, "chunk", nChunks, col("doc_id"))
    }, math.max(1, nChunks / 3))
  }

  /** `events.ts` has shipped in two parquet encodings across testdata
    * drops: TIMESTAMP(NANOS) (readable only as raw nanos via the
    * `nanosAsLong` legacy conf) and plain micros TIMESTAMP_NTZ. Normalize
    * either to the session-UTC TIMESTAMP every downstream query assumes —
    * the NTZ cast is value-exact because the session timezone is UTC in
    * every JVM sbt forks (`-Dspark.sql.session.timeZone=UTC` in build.sbt's
    * `javaOptions`).
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** STREAMING tumbling-window event counts: the events table read as a
    * file stream, a 1-day event-time window aggregation (1-hour
    * watermark) run to completion — the canonical readStream → windowed
    * groupBy → complete-mode shape. Exact integer counts plus the
    * decimal-string-routed value sums, so the batch DuckDB oracle
    * replays the final frame value-exactly. Returns the final
    * (complete-mode) result as a batch DataFrame — value-identical to the
    * equivalent GROUP BY date_trunc('day', ts) batch query.
    */
  def windowedEventCounts(outer: SparkSession, dir: String): DataFrame = withStreamingPartitions(outer, 8) { spark =>
    val agg = eventsStream(spark, dir)()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4)))
          .cast(StringType).cast(DoubleType).as("sum_value"))
    runToMemory(agg, "win", mode = "complete")
      // NTZ like every other emitted time column: the oracle's DuckDB
      // timestamps are naive, and a UTC-adjusted parquet annotation would
      // make a string/driver-side compare see "+00:00" on one side only
      .select(col("w.start").cast("timestamp_ntz").as("day"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  /** STREAMING event-rate anomaly detection: the stateful twin of
    * window_anomaly_zscore. Per event_type, the state is the open hourly
    * bucket plus a ring of the last 24 COMPLETED counts; a bucket is
    * scored the moment it completes (the next hour's first event arrives),
    * so detections stream out with one-bucket latency instead of waiting
    * for a batch job. Input arrives in three ascending time chunks (an
    * hour straddling a chunk boundary stays open in state across the
    * batches) plus one far-future sentinel per event_type that closes each
    * type's final real bucket — the sentinel buckets themselves never
    * complete and are never emitted.
    *
    * The scoring arithmetic is the batch query's, operation for operation
    * (exact long sums, one division each, IEEE sqrt), and completed-bucket
    * counts don't depend on chunk boundaries — so the streamed output
    * EQUALS the batch output and shares its DuckDB oracle verbatim.
    */
  def streamAnomalyZscore(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, 8) { spark =>
      import spark.implicits._
      val base = eventsWithSpike(spark, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
      val Array(minUs, maxUs) = base.agg(min(col("ts_us")), max(col("ts_us")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val t1 = minUs + (maxUs - minUs) / 3
      val t2 = minUs + 2L * (maxUs - minUs) / 3
      val tmp = stagedCorpus(dir, "anom") { t =>
        stageOne(base.where(col("ts_us") <= t1), t, "chunk0")
        stageOne(base.where(col("ts_us") > t1 && col("ts_us") <= t2), t, "chunk1")
        stageOne(base.where(col("ts_us") > t2), t, "chunk2")
        stageOne(base.select(col("event_type")).distinct()
          .select(col("event_type"),
            lit(maxUs + 48L * 3600L * 1000000L).as("ts_us"),
            lit(-1000L).as("event_id")), t, "chunk3")
      }

      def scored(et: String, hourUs: Long, n: Long, ring: List[Long]): AnomalyOut = {
        val s1 = ring.sum
        val s2 = ring.map(c => c * c).sum
        val mean = s1.toDouble / 24.0
        val variance = s2.toDouble / 24.0 - mean * mean
        val z = if (variance > 0.0) Some((n.toDouble - mean) / math.sqrt(variance))
        else None
        AnomalyOut(et, hourUs, n, Some(mean), Some(variance), z,
          z.exists(zv => math.abs(zv) > 3.0))
      }
      def fn(et: String, rows: Iterator[AnomalyEvent],
             state: GroupState[AnomalyState]): Iterator[AnomalyOut] = {
        val sorted = rows.toArray.sortBy(e => (e.hour_us, e.event_id))
        var st = state.getOption.getOrElse(AnomalyState(-1L, 0L, Nil))
        val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyOut]
        sorted.foreach { e =>
          if (st.curHour == -1L) st = AnomalyState(e.hour_us, 1L, st.ring)
          else if (e.hour_us == st.curHour) st = st.copy(curN = st.curN + 1)
          else {
            if (st.ring.length == 24) out += scored(et, st.curHour, st.curN, st.ring)
            st = AnomalyState(e.hour_us, 1L,
              (st.ring :+ st.curN).takeRight(24))
          }
        }
        state.update(st)
        out.iterator
      }

      val stream = fileStream(spark, base.schema, tmp.toString)
        .select(col("event_type"),
          expr("(ts_us div 3600000000) * 3600000000").as("hour_us"),
          col("event_id"))
        .as[AnomalyEvent]
        .groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      runToMemory(stream.toDF(), "anom")
        .select(col("event_type"),
          timestamp_micros(col("hour_us")).cast("timestamp_ntz").as("h"),
          col("n"), col("mean"), col("variance"), col("z"), col("is_anomaly"))
        .orderBy(col("event_type"), col("h"))
    }

  /** WATERMARK LATE-DATA ACCOUNTING: the one watermark behavior the other
    * streaming queries don't surface — actual late-row DROPPING. The events
    * table arrives out of order in two staged micro-batches: the NEWER half
    * (ts > split) first, then the older half as stragglers. After batch 1
    * the watermark stands at max(ts) − 1 h, so batch-2 rows whose 1-day
    * window already closed (window_end ≤ watermark) are dropped by the
    * windowed aggregation — deterministically, because AvailableNow +
    * maxFilesPerTrigger=1 fixes the batch boundaries and Spark's watermark
    * is an exact integer (max event-time ms − delay ms). A far-future
    * sentinel row then pushes the watermark past every real window so
    * append mode emits them all (the sentinel's own window never closes and
    * never appears).
    *
    * Output joins the streamed (on-time) counts against the full batch
    * counts per (day, event_type): n_total, n_on_time, n_late_dropped, and
    * the on-time decimal-routed sum. The oracle recomputes the SAME
    * watermark arithmetic (split point, ms truncation, window-end
    * comparison) from the raw table — so the driver hash-checks that the
    * engine dropped EXACTLY the rows the watermark contract says it must.
    */
  def streamLateData(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, 8) { spark =>
      val ev = events(spark, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val Array(minUs, maxUs) = ev.agg(
        unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val splitUs = minUs + (maxUs - minUs) / 2

      // newer half first; older half arrives late; sentinel closes windows.
      // The NUDGE batch between them matters: Spark filters late events
      // with the watermark of the PREVIOUS micro-batch (SPARK-40925's
      // late/eviction split), so a straggler arriving in the batch right
      // after the newer half would still see the initial zero watermark.
      // One synthetic row at ts = max (sentinel-typed, filtered from the
      // output) advances the late-filter watermark without touching the
      // event-time statistics the oracle replays.
      val tmp = stagedCorpus(dir, "late") { t =>
        stageOne(ev.where(unix_micros(col("ts")) > splitUs), t, "batch1")
        stageOne(spark.range(1).select(lit(-2L).as("event_id"),
          timestamp_micros(lit(maxUs)).as("ts"),
          lit("sentinel").as("event_type"), lit(0.0).as("value")), t, "batch2")
        stageOne(ev.where(unix_micros(col("ts")) <= splitUs), t, "batch3")
        stageOne(spark.range(1).select(lit(-1L).as("event_id"),
          timestamp_micros(lit(maxUs + 48L * 3600L * 1000000L)).as("ts"),
          lit("sentinel").as("event_type"), lit(0.0).as("value")), t, "batch4")
      }

      val stream = fileStream(spark, ev.schema, tmp.toString)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_on_time"),
          sum(col("value").cast(DecimalType(18, 4)))
            .cast(StringType).cast(DoubleType).as("on_time_sum"))
      val streamed = runToMemory(stream, "late")
        .where(col("event_type") =!= "sentinel")
        .select(col("w.start").cast("timestamp_ntz").as("day"),
          col("event_type"), col("n_on_time"), col("on_time_sum"))
      val total = ev
        .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_total"))
      total.join(streamed, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), col("n_total"),
          coalesce(col("n_on_time"), lit(0L)).as("n_on_time"),
          (col("n_total") - coalesce(col("n_on_time"), lit(0L)))
            .as("n_late_dropped"),
          coalesce(col("on_time_sum"), lit(0.0)).as("on_time_sum"))
        .orderBy(col("day"), col("event_type"))
    }

  /** SLIDING-window counts (1-day window, 12-hour slide): every event lands
    * in exactly two overlapping windows — the state-doubling shape tumbling
    * windows avoid, bounded the same way by the watermark. Spark aligns
    * window starts to the epoch, so the DuckDB oracle replays the windows
    * with integer-microsecond bucket arithmetic and must agree exactly.
    */
  def streamSlidingCounts(outer: SparkSession, dir: String): DataFrame = withStreamingPartitions(outer, 8) { spark =>
    val agg = eventsStream(spark, dir)()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4)))
          .cast(StringType).cast(DoubleType).as("sum_value"))
    runToMemory(agg, "slide", mode = "complete")
      .select(col("w.start").cast("timestamp_ntz").as("w_start"),
        col("n"), col("sum_value"))
      .orderBy(col("w_start"))
  }

  val streamSlidingCountsSql: String =
    """WITH x AS (SELECT epoch_us(ts) AS tus, value FROM events),
      |w AS (
      |  SELECT unnest([ (tus // 43200000000) * 43200000000,
      |                  ((tus // 43200000000) - 1) * 43200000000 ]) AS start_us,
      |         value
      |  FROM x)
      |SELECT make_timestamp(start_us) AS w_start, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1 ORDER BY w_start""".stripMargin

  /** Streaming exact deduplication: `dropDuplicates` on the event id with a
    * watermark bounding the dedup state (the state store only keeps ids
    * newer than watermark - delay; a training-data ingest pipeline's
    * "at-least-once source → exactly-once corpus" shape), then daily counts
    * of distinct events. Value-identical to the batch
    * `GROUP BY day, COUNT(DISTINCT event_id)`, which the DuckDB oracle
    * replays.
    */
  def streamDedupEvents(outer: SparkSession, dir: String): DataFrame =
    // diskState: exact-dedup state is one entry per UNIQUE EVENT ID —
    // corpus-scale, heap-OOM on the default in-memory provider at 10⁸ ids
    withStreamingPartitions(outer, 8, diskState = true) { spark =>
    // the STREAM emits one row per unique event — corpus-scale output, so
    // it goes through the parquet file sink (r7 VERDICT #1: a memory sink
    // here collects every distinct event onto the driver heap). Append
    // mode: dropDuplicates emits each id on first sight; the watermark
    // only bounds the dedup state. The day-level distinct count is then an
    // ordinary BATCH aggregation over the lazily-read sink — same value as
    // the previous complete-mode windowed agg, same shared oracle.
    runToFileSink(dedupEventsStream(eventsStream(spark, dir)()), "dedup_events")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_distinct"))
      .select(col("w.start").cast("timestamp_ntz").as("day"), col("n_distinct"))
      .orderBy(col("day"))
  }

  /** The stateful dedup plan shared by [[streamDedupEvents]] and the
    * kill-and-resume spec: at-least-once delivery simulated by emitting
    * every event twice (the raw table's event_ids are unique, so the dedup
    * state actually has duplicates to drop), 1-hour watermark bounding the
    * id state, dropDuplicates emitting each id on first sight.
    */
  private def dedupEventsStream(src: DataFrame): DataFrame =
    src.select(col("event_id"), col("ts"))
      .select(col("event_id"), col("ts"),
        explode(array(lit(1), lit(2))).as("__copy"))
      .drop("__copy")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")

  val streamDedupEventsSql: String =
    """SELECT date_trunc('day', ts) AS day,
      |  count(DISTINCT event_id) AS n_distinct
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** STREAM-STREAM interval join: clicks joined to purchases of the same
    * user within the following 30 minutes. Both sides carry watermarks so
    * the join state is bounded (a click can be dropped from state once the
    * purchase-side watermark passes click-ts + 30 min); inner-join matches
    * emit eagerly, so one AvailableNow pass produces the full result on the
    * finite harness file — value-identical to the batch inequality join the
    * DuckDB oracle replays.
    */
  def streamClickPurchaseJoin(outer: SparkSession, dir: String): DataFrame =
    // diskState: an interval stream-stream join buffers BOTH inputs in the
    // state store until the watermark passes — corpus-scale state
    withStreamingPartitions(outer, 8, diskState = true) { spark =>
    runToFileSink(clickPurchaseJoined(eventsStream(spark, dir)), "click_join")
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** The interval-join plan shared by [[streamClickPurchaseJoin]] and the
    * kill-and-resume spec (`mkSrc` builds one streaming read of the events
    * source; it is invoked once per join side). Joined pairs are
    * corpus-scale output → parquet file sink, never the driver-heap memory
    * sink (r7 VERDICT #1); projected to the final shape BEFORE the sink so
    * only the five output columns hit disk.
    */
  private def clickPurchaseJoined(mkSrc: () => DataFrame): DataFrame = {
    val clicks = mkSrc().where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = mkSrc().where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    clicks.join(purchases,
      expr("cu = pu AND pts >= cts AND pts <= cts + interval 30 minutes"))
      .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("cts")).as("click_ts_us"),
        unix_micros(col("pts")).as("purchase_ts_us"))
  }

  val streamClickPurchaseJoinSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_ts_us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_ts_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts_us, p.purchase_ts_us
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.purchase_ts_us >= c.click_ts_us
      |  AND p.purchase_ts_us <= c.click_ts_us + 1800000000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Batch read of the events table (ts normalized to session-UTC micros
    * whichever parquet encoding the testdata drop used — see normalizeTs).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** The events stream with the deterministic 200-event click spike ten
    * days in — the shared input of window_anomaly_zscore and
    * stream_anomaly_zscore (both engines and both execution modes must
    * derive the IDENTICAL frame for the shared oracle to hold).
    */
  def eventsWithSpike(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    val minUs = ev.agg(unix_micros(min(col("ts")))).head().getLong(0)
    val spikeHourUs = (minUs / 3600000000L) * 3600000000L + 240L * 3600000000L
    val spike = spark.range(200).select(
      (-col("id") - 1).as("event_id"),
      timestamp_micros(lit(spikeHourUs) + col("id") * 1000L).as("ts"),
      lit("click").as("event_type"))
    ev.unionByName(spike)
  }

  /** Gap-based sessionization, batch form: a >30-minute silence starts a new
    * session. Classic lag + running-sum-of-boundaries shape — one shuffle on
    * user_id, per-user window sort (users are numerous, so parallelism holds
    * at scale). Microsecond integer arithmetic end-to-end so the DuckDB
    * oracle replays it exactly.
    */
  def sessionizeBatch(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val e = events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    e.withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1)
          .otherwise(when(lag(col("ts_us"), 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("session_id", sum(col("new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4)))
          .cast(StringType).cast(DoubleType).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val sessionizeBatchSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_us, value,
      |    CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
      |         WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sessions AS (
      |  SELECT user_id, ts_us, value,
      |    -- DuckDB widens sum(<integer>) to HUGEINT; CAST matches Spark's BIGINT
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, min(ts_us) AS session_start_us,
      |  max(ts_us) AS session_end_us, count(*) AS n_events,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Oracle for the STREAMING sessionizer: the same gap/lag replay as the
    * batch oracle, minus the (stream-internal) session_id column. Valid
    * because the stream accumulates session sums in exact fixed-point
    * (SessionEvent.v4) and emits them through the identical decimal-string
    * route, so the streamed rows are bit-equal to this batch replay —
    * asserted (including sum_value) in OpsSpec. Sessions of one user have
    * distinct starts, so ORDER BY (user_id, session_start_us) is total.
    */
  val streamSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_us, value,
      |    CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
      |         WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sessions AS (
      |  SELECT user_id, ts_us, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, min(ts_us) AS session_start_us,
      |  max(ts_us) AS session_end_us, count(*) AS n_events,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin

  /** The same sessionization as an arbitrary-stateful streaming query
    * (KeyValueGroupedDataset.flatMapGroupsWithState), UNBOUNDED-correct:
    * per-user session state lives in the state store across micro-batches
    * (`state.update`), closed sessions are emitted as the gap is observed,
    * and open sessions flush via EVENT-TIME TIMEOUT when the watermark
    * passes last-event + gap — a session spanning micro-batches is never
    * split (asserted in OpsSpec with a two-batch synthetic stream).
    *
    * The harness drives the finite events file through the same code in two
    * time-split halves (so sessions really cross a batch boundary) plus a
    * far-future sentinel row that advances the watermark past every open
    * session's timeout — after which the emitted sessions equal the batch
    * result exactly.
    */
  def sessionizeStream(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sessionizeStreamOf(events(spark, dir)
      .select(col("user_id"), col("ts"), col("value")), gapMinutes,
      cacheKey = Some(s"$dir#sess$gapMinutes"))
  }

  /** Drive `ev` (user_id, ts timestamp, value) through the stateful
    * streaming sessionizer in two micro-batches + a sentinel batch.
    * Exposed so tests can feed synthetic streams. `cacheKey` (set by the
    * dir-based wrapper) caches the staged chunk FILES across invocations —
    * the two-phase arrival choreography still re-enacts per run via cheap
    * copies into the per-run watched dir.
    */
  def sessionizeStreamOf(ev: DataFrame, gapMinutes: Int = 30,
      cacheKey: Option[String] = None): DataFrame = {
    withStreamingPartitions(ev.sparkSession, 8) { spark =>
      import spark.implicits._
      val gapUs = gapMinutes.toLong * 60L * 1000000L
      val delay = "1 hour"
      val delayUs = 3600L * 1000000L

      // stage the input as files so the file stream source replays it in
      // REAL micro-batches: first half, second half (split at the median
      // timestamp), then a sentinel event far enough in the future that the
      // watermark passes every open session's timeout
      val tmp = java.nio.file.Files.createTempDirectory("graft_sess_src")
      val Array(minUs, maxUs) = ev.agg(
        unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val midUs = minUs + (maxUs - minUs) / 2
      stageOneCached(ev.where(unix_micros(col("ts")) <= midUs), tmp, "batch1", cacheKey)

      val stream = fileStream(spark, ev.schema, tmp.toString)
        .withWatermark("ts", delay)
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
          (col("value").cast(DecimalType(18, 4)) * 10000)
            .cast(LongType).as("v4"))
        .as[SessionEvent]

      // fixed-point 1e-4 Long -> double via decimal STRING parse: identical
      // to the batch layer's sum(DECIMAL(18,4))->string->double route (both
      // are correctly-rounded parses of the same exact decimal text)
      def emitSum(sum4: Long): Double = java.lang.Double.parseDouble(
        java.math.BigDecimal.valueOf(sum4).movePointLeft(4).toPlainString)
      def fn(userId: Long, evs: Iterator[SessionEvent],
             state: GroupState[SessionState]): Iterator[SessionOut] = {
        if (state.hasTimedOut) {
          // watermark passed last-event + gap with no new events: the open
          // session is definitively closed (later events would start a new
          // session anyway)
          val out = state.getOption
            .map(s => SessionOut(userId, s.startUs, s.lastUs, s.n, emitSum(s.sum4))).iterator
          state.remove()
          out
        } else {
          val sorted = evs.toArray.sortBy(_.ts_us)
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.lastUs <= gapUs =>
                cur = Some(SessionState(math.min(s.startUs, e.ts_us),
                  math.max(s.lastUs, e.ts_us), s.n + 1, s.sum4 + e.v4))
              case Some(s) =>
                out += SessionOut(userId, s.startUs, s.lastUs, s.n, emitSum(s.sum4))
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.v4))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.v4))
            }
          }
          cur.foreach { s =>
            val timeoutMs = (s.lastUs + gapUs) / 1000L
            if (timeoutMs <= state.getCurrentWatermarkMs()) {
              // already expired relative to the watermark: emit now (a
              // setTimeoutTimestamp in the past would throw)
              out += SessionOut(userId, s.startUs, s.lastUs, s.n, emitSum(s.sum4))
            } else {
              state.update(s)
              state.setTimeoutTimestamp(timeoutMs)
            }
          }
          out.iterator
        }
      }

      // sentinel: one event for a reserved user id, far enough ahead that
      // watermark = sentinel - delay clears every possible timeout
      val sentinelUs = maxUs + gapUs + delayUs + 86400L * 1000000L
      val phases = Seq(
        () => stageOneCached(ev.where(unix_micros(col("ts")) > midUs), tmp,
          "batch2", cacheKey),
        () => stageOneCached(spark.range(1).select(lit(-1L).as("user_id"),
          timestamp_micros(lit(sentinelUs)).as("ts"), lit(0.0).as("value")),
          tmp, "sentinel", cacheKey))
      // FILE sink: sessions are CORPUS-SCALE output (one row per session) —
      // stream_sessionize OOMed the 1000× decade on the memory sink (r7).
      // The source staging is dead weight once the run returns.
      val sessions =
        try runToFileSink(stream.groupByKey(_.user_id)
            .flatMapGroupsWithState(OutputMode.Append,
              GroupStateTimeout.EventTimeTimeout)(fn).toDF(),
            "sess", Trigger.ProcessingTime(0L), phases)
        finally Fs.deleteRecursively(tmp)
      sessions.where(col("user_id") >= 0)
        .orderBy(col("user_id"), col("session_start_us"))
    }
  }

  /** STREAMING INCREMENTAL DISAGGREGATION — the production shape for
    * continuously-arriving low-frequency data: each micro-batch identifies
    * the series it touches, re-runs the per-series kernel for ONLY those
    * keys against the accumulated input state, and upserts the refreshed
    * series into a partitioned result table via DYNAMIC partition
    * overwrite (only touched `series_id=` partitions rewrite; untouched
    * series keep their previous results — no table-wide rewrite, no
    * transactional log needed).
    *
    * Work per batch is O(touched series × kernel), independent of the
    * total series count — the incremental property that matters when 10^6
    * series are live and a batch touches 10^2. Recompute-from-state (not
    * delta-patching the solution) is deliberate: GLS/KKT solutions are
    * global in their series, so per-series recompute is the smallest
    * correct unit, and it makes the final state EQUAL the batch rerun —
    * which is what the oracle checks.
    *
    * `low` must be (series_id, ts timestamp_ntz, value). Returns the final
    * result table (series_id, ts, value), bit-equal to
    * `Disaggregate.manySeries(low, None, params)` on the same input.
    */
  def incrementalDisagg(
      low: DataFrame,
      params: graft.disagg.Disaggregate.Params,
      nBatches: Int = 2,
      cacheKey: Option[String] = None): DataFrame = {
    withStreamingPartitions(low.sparkSession, 8) { spark =>
      val srcDir = java.nio.file.Files.createTempDirectory("graft_disagg_src")
      val stateDir = java.nio.file.Files.createTempDirectory("graft_disagg_state")
      val resultDir = java.nio.file.Files.createTempDirectory("graft_disagg_result")

      // split the input into micro-batches by time: later years arrive
      // later, so every series is created in batch 1 and UPDATED in batch 2
      // (the upsert path is actually exercised)
      val ordered = low.select(col("series_id"), col("ts"), col("value"))
      val bounds = ordered.select(
        ntile(nBatches).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"))).as("b"), col("series_id"), col("ts"), col("value"))

      val arrivals = (1 to nBatches).map { b => () =>
        stageOneCached(bounds.where(col("b") === b).drop("b"), srcDir,
          s"batch$b", cacheKey.map(k => s"$k#disagg$nBatches"))
      }
      val stream = fileStream(spark, ordered.schema, srcDir.toString)
      runForeachBatch(stream, "disagg", trigger = Trigger.ProcessingTime(0L),
          steps = arrivals) { (batch, _) =>
        // 1. append the raw rows to the input state table
        batch.write.mode("append").parquet(stateDir.toString)
        // 2. touched keys only — the incremental unit
        val touched = batch.select(col("series_id")).distinct()
        val state = batch.sparkSession.read.parquet(stateDir.toString)
          .join(touched, "series_id")
        // 3. recompute those series from accumulated state and upsert:
        //    dynamic overwrite rewrites ONLY the touched partitions
        graft.disagg.Disaggregate.manySeries(state, None, params = params)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("series_id")
          .parquet(resultDir.toString)
      }
      // partitionBy moves series_id into the directory key; restore column
      // order and types for the consumer. Materialize the result BEFORE
      // its parquet source is deleted with the other temp state (the
      // returned frame is consumed lazily by the caller).
      val result = spark.read.parquet(resultDir.toString)
        .select(col("series_id").cast("long"), col("ts"), col("value"))
        .orderBy(col("series_id"), col("ts"))
        .transform(df => Fs.materialize(df, Fs.footerRows(df).getOrElse(0L)))
      Seq(srcDir, stateDir, resultDir).foreach(Fs.deleteRecursively)
      result
    }
  }

  /** Frozen IVF-PQ models are deterministic functions of (corpus dir,
    * training filter) — cache per dir so Bench's repeated sweeps pay the
    * coarse + 4-subspace training once per JVM.
    */
  private val ivfPqModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ops.Similarity.IvfPqModel]

  /** STREAMING IVF-PQ index maintenance — the incremental member of the
    * ANN family (r5 VERDICT #5). The model (coarse centroids + PQ
    * codebooks) trains ONCE on the pre-stream BASE corpus (vec_id % 4 ≠ 3)
    * and is then FROZEN — the FAISS IndexIVFPQ contract: add() encodes
    * with trained quantizers, never retrains, so codes written at
    * different times stay mutually comparable. New vectors stream in (two
    * micro-batches), and each batch is routed to its coarse bucket,
    * residual-PQ-encoded with the frozen codebooks (one zero-shuffle
    * projection — Similarity.ivfPqEncode), and UPSERTED into the
    * bucket-partitioned code table via dynamic-partition-overwrite of only
    * the touched buckets: survivors of those partitions anti-joined on
    * vec_id + the new codes, the stream_disagg_incremental pattern. At
    * scale the bucket key is the index's partition layout, so an upsert
    * touches ~touched/nCoarse of the index regardless of corpus size.
    *
    * The emitted surface is the standard ADC top-10 probe over the
    * POST-upsert index. Because encode is a pure per-row function of the
    * frozen model, the final index — and therefore the search — is
    * independent of arrival order and batch boundaries: bit-equal to
    * batch-encoding the full corpus with the same base-trained model
    * (OpsSpec pins ==batch), and the oracle replays the whole chain with
    * training restricted to the base subset (ivfPqSqlChain in Queries).
    */
  def streamIvfPqUpsert(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, 8) { spark =>
      import graft.ops.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val isBase = col("vec_id") % 4 =!= 3
      val model = ivfPqModels.computeIfAbsent(dir, _ =>
        Similarity.ivfPqTrain(emb.where(isBase)))
      val indexDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_index")
      Similarity.ivfPqEncode(model, emb.where(isBase))
        .write.mode("overwrite")
        .partitionBy("bucket").parquet(indexDir.toString)
      val tmp = stagedCorpus(dir, "ivfpq_ups") { t =>
        stageOne(emb.where(col("vec_id") % 8 === 3), t, "chunk0")
        stageOne(emb.where(col("vec_id") % 8 === 7), t, "chunk1")
      }
      runForeachBatch(fileStream(spark, emb.schema, tmp.toString), "ivfpq",
          trigger = Trigger.ProcessingTime(0L)) { (batch, _) =>
        val codes = Similarity.ivfPqEncode(model, batch)
        val touched = codes.select(col("bucket")).distinct()
          .collect().map(_.getLong(0)).toSeq // ≤ nCoarse = 16 rows
        // survivors of the touched partitions (filter prunes to those
        // bucket dirs) anti-joined on vec_id, plus the fresh codes;
        // materialized BEFORE the overwrite deletes the files being read
        val index = batch.sparkSession.read.parquet(indexDir.toString)
        val existing = Fs.materialize(index
          .withColumn("bucket", col("bucket").cast("long"))
          .where(col("bucket").isin(touched: _*))
          .join(codes.select(col("vec_id")), Seq("vec_id"), "left_anti"),
          Fs.footerRows(index).getOrElse(0L))
        existing.unionByName(codes)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(indexDir.toString)
      }
      val coded = spark.read.parquet(indexDir.toString)
        .withColumn("bucket", col("bucket").cast("long"))
      // the top-10 probe (ivfPqSearch's default topK)
      val out = Fs.materialize(Similarity.ivfPqSearch(model, coded, emb), 10L)
      Fs.deleteRecursively(indexDir)
      out
    }

  /** STREAMING INCREMENTAL CONNECTED COMPONENTS — near-dup cluster
    * maintenance as verified pairs ARRIVE, the incremental member of the
    * dedup family (batch twin: `Dedup.connectedComponents` behind
    * `dedup_clusters`). A pair becomes discoverable when the LATER of its
    * two documents arrives, so the pair feed is ordered by
    * (greatest(doc_a, doc_b), least(..)) and split into micro-batches on
    * that arrival order.
    *
    * State is the label table (doc_id, label = component-min doc_id),
    * parquet-partitioned by `bucket = pmod(xxhash64(doc_id), nBuckets)` —
    * a doc's bucket never changes, so every rewrite is a
    * dynamic-partition-overwrite of only the buckets holding touched
    * docs (the stream_disagg_incremental pattern). Each batch:
    *
    *  1. look up the arriving endpoints' current labels (a point lookup;
    *     at scale the bucketed layout makes it a pruned read of the
    *     endpoints' own partitions),
    *  2. CONTRACT the new edges onto those labels (an edge between two
    *     already-labeled docs becomes an edge between their component
    *     representatives) and run the batch large-star/small-star CC on
    *     the contracted DELTA graph only — its size is bounded by the
    *     batch, never the corpus,
    *  3. relabel: members of components whose representative lost the min
    *     (the relabel map is touched-components-small, so the join is a
    *     broadcast map-side pass over the bucketed state) plus the fresh
    *     endpoints, rewritten via dynamic overwrite of their buckets.
    *
    * Per-batch work is O(|batch| + |docs in merged components|) — the
    * latter is the unavoidable lower bound for maintaining explicit
    * min-labels (merging two clusters must relabel the loser). Finding
    * those members scans the doc-keyed state map-side with the broadcast
    * relabel map; a production deployment that cannot afford even that
    * metadata-light scan keeps the label-keyed twin of this table (the
    * classic two-index design) and prunes to the loser label's partitions.
    *
    * Correctness: by induction, after every batch label(d) is the min doc
    * id of d's component in the pairs seen so far — contraction preserves
    * connectivity and min-of-mins is the component min — so the FINAL
    * state is bit-equal to one batch CC over the full pair set, which is
    * why the query shares dedup_clusters' DuckDB oracle verbatim and
    * OpsSpec pins ==batch including a cross-batch component merge.
    */
  def streamDedupClusters(outer: SparkSession, dir: String,
      subset: Boolean = false): DataFrame =
    withStreamingPartitions(outer, 8) { spark =>
      val nBatches = 3
      val kind = if (subset) "ccpairs_sub" else "ccpairs"
      val tmp = stagedCorpus(dir, kind) { t =>
        val raw = spark.read.parquet(s"$dir/documents.parquet")
        val docs = if (subset) graft.ops.Dedup.subsetDocs(raw) else raw
        val pairs = graft.ops.Dedup.minhashLshPairs(docs, bands = 32)
          .select(col("doc_a"), col("doc_b"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(greatest(col("doc_a"), col("doc_b")),
            least(col("doc_a"), col("doc_b")))
        val withB = pairs
          .select(ntile(nBatches).over(w).as("b"), col("doc_a"), col("doc_b"))
        (1 to nBatches).foreach { b =>
          stageOne(withB.where(col("b") === b).drop("b"), t, s"chunk${b - 1}")
        }
      }
      streamCcRun(spark, tmp)
    }

  /** Test surface for [[streamDedupClusters]]: run the incremental CC on an
    * explicit (b, doc_a, doc_b) frame — batch assignment chosen by the
    * caller, so specs can force a cross-batch merge of two established
    * components. Stages fresh (uncached) files and cleans them up.
    */
  def streamDedupClustersOf(pairsWithB: DataFrame, nBuckets: Int = 8): DataFrame =
    withStreamingPartitions(pairsWithB.sparkSession, 8) { spark =>
      val src = java.nio.file.Files.createTempDirectory("graft_cc_src")
      val bs = pairsWithB.select(col("b").cast("int")).distinct()
        .orderBy(col("b")).collect().map(_.getInt(0))
      bs.zipWithIndex.foreach { case (b, i) =>
        stageOne(pairsWithB.where(col("b") === b)
          .select(col("doc_a").cast("long"), col("doc_b").cast("long")),
          src, s"chunk$i")
      }
      val out = streamCcRun(spark, src, nBuckets)
      Fs.deleteRecursively(src)
      out
    }

  /** Micro-batch delta graphs at or under this edge count run their CC as
    * a driver union-find (see [[graft.ops.Dedup.driverMinLabels]] /
    * [[graft.ops.Dedup.ccDriverEdgeCap]]); larger batches fall back to
    * the distributed large-star/small-star loop. Both produce the
    * identical component-min labels, so the ==batch contract is
    * path-independent.
    */
  private val ccDriverEdgeCap = graft.ops.Dedup.ccDriverEdgeCap

  /** The incremental-CC engine shared by the corpus wrapper and the test
    * surface: streams staged pair chunks (one micro-batch per file) and
    * maintains the bucketed label table. Returns (doc_id, cluster_id).
    */
  private def streamCcRun(spark: SparkSession, srcDir: java.nio.file.Path,
      nBuckets: Int = 8): DataFrame = {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cc_state")
    val schema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    // driver-side flag, not a filesystem probe: dynamic overwrite leaves no
    // root _SUCCESS marker to test for. Atomic: written on the stream's
    // micro-batch thread, read on the caller thread after the run
    val hasState = new java.util.concurrent.atomic.AtomicBoolean(false)
    runForeachBatch(fileStream(spark, schema, srcDir.toString), "cc",
        trigger = Trigger.ProcessingTime(0L)) { (batch, _) =>
      val sp = batch.sparkSession
      val state =
        if (hasState.get())
          sp.read.parquet(stateDir.toString)
            .select(col("doc_id"), col("label"), col("bucket").cast("long"))
        else
          sp.range(0).select(col("id").as("doc_id"), col("id").as("label"),
            col("id").as("bucket"))
      // foreachBatch hands the batch over as a LogicalRDD, so neither Fs
      // count sees its parquet files: the rows are counted on the
      // checkpointed frame
      val edges = Fs.materialize(batch.select(col("doc_a"), col("doc_b")),
        Fs.footerRows(batch).getOrElse(0L))
      val nDelta = Fs.rowCount(edges)
      val ends = edges.select(col("doc_a").as("doc_id"))
        .unionAll(edges.select(col("doc_b").as("doc_id"))).distinct()
      // endpoint label lookup — batch-sized; bucketed layout makes this a
      // partition-pruned point read at scale
      // (doc_id is unique in state, so ≤ 2 rows per batch edge)
      val lookup = Fs.materialize(ends
        .join(state.select(col("doc_id"), col("label")), Seq("doc_id"), "left"),
        2L * nDelta)
      val la = lookup.select(col("doc_id").as("doc_a"), col("label").as("la"))
      val lb = lookup.select(col("doc_id").as("doc_b"), col("label").as("lb"))
      val contracted = edges
        .join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
        .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
          coalesce(col("lb"), col("doc_b")).as("doc_b"))
      // CC on the contracted DELTA graph only (old representatives +
      // fresh docs): node -> new component min. The delta graph is
      // BATCH-bounded, never corpus-bounded, so below the cap it runs
      // as a driver union-find — the distributed large-star/small-star
      // loop's per-round joins + fixpoint actions cost 1–3 s per
      // micro-batch on a graph of a few thousand edges (measured: it
      // was 60% of this query's whole bench time), pure fixed overhead
      // at that size. Past the cap (a giant micro-batch) it falls back
      // to the distributed loop rather than collecting — the
      // guardBlockLoad discipline, degrade-don't-die.
      val relabel =
        if (nDelta <= ccDriverEdgeCap) {
          import scala.jdk.CollectionConverters._
          // toLocalIterator keeps the driver at partition-at-a-time
          // memory (the r9 cap contract) but runs ONE JOB PER PARTITION
          // — 8 session-width partitions was 8 driver jobs per batch for
          // a batch-bounded graph. Coalesce (narrow, no shuffle) to
          // ~1M-edge partitions first: typical batches iterate in ONE
          // job, the 5M-edge cap worst case in five, and the per-
          // partition memory bound is preserved.
          val nParts = math.max(1L, nDelta / 1000000L).toInt
          val (ids, labels) = graft.ops.Dedup.driverMinLabels(
            contracted.coalesce(nParts).toLocalIterator().asScala.map(r =>
              (r.getLong(0), r.getLong(1))),
            sizeHint = nDelta.toInt)
          graft.ops.Dedup.labelsFrame(sp, ids, labels)
            .toDF("node", "new_label")
        } else
          Fs.materialize(graft.ops.Dedup.connectedComponents(contracted)
            .toDF("node", "new_label"), 2L * nDelta)
      // members of components whose representative lost the min...
      val changedOld = state
        .join(broadcast(relabel.where(col("node") =!= col("new_label"))),
          state("label") === col("node"))
        .select(state("doc_id"), col("new_label").as("label"))
      // ...plus the endpoints this batch first introduced
      val fresh = lookup.where(col("label").isNull)
        .join(broadcast(relabel), col("doc_id") === col("node"))
        .select(col("doc_id"), col("new_label").as("label"))
      // fold `touched` into the materializing action (r11 VERDICT #5):
      // observe() computes the distinct-bucket set DURING the
      // localCheckpoint job (or the big branch's scratch-parquet write),
      // so the separate distinct+collect job disappears. obs.get blocks
      // until the listener delivers — safe because both actions fire the
      // QueryExecutionListener (OpsSpec pins both Fs branches); an action
      // failure throws before the get. (|state| + 2 rows per batch edge
      // bound the relabeled rows.)
      val obs = org.apache.spark.sql.Observation()
      val stateRows = Fs.footerRows(state).getOrElse(0L)
      val updated = Fs.materialize(changedOld.unionByName(fresh)
        .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)))
        .observe(obs, collect_set(col("bucket")).as("tb")),
        stateRows + 2L * nDelta)
      val touched: Seq[Long] = obs.get("tb") match {
        case s: scala.collection.Seq[_] => s.map(_.asInstanceOf[Long]).toSeq
        case other => throw new IllegalStateException(
          s"observe(collect_set) returned ${other.getClass}")
      }
      if (touched.nonEmpty) {
        // whole-bucket rewrite content: untouched survivors of the
        // touched buckets + every updated row (localCheckpoint
        // materializes BEFORE the overwrite deletes the files being read)
        val keepers = state.where(col("bucket").isin(touched: _*))
          .join(updated.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("label"), col("bucket"))
          .transform(Fs.materialize(_, stateRows))
        keepers
          .unionByName(updated.select(col("doc_id"), col("label"), col("bucket")))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(stateDir.toString)
        hasState.set(true)
      }
    }
    val labels =
      if (hasState.get())
        spark.read.parquet(stateDir.toString)
          .select(col("doc_id"), col("label").as("cluster_id"))
          .transform(df => Fs.materialize(df, Fs.footerRows(df).getOrElse(0L)))
      else
        spark.range(0).select(col("id").as("doc_id"), col("id").as("cluster_id"))
    Fs.deleteRecursively(stateDir)
    labels
  }

  /** STREAMING mixture-weight sampling: the SAME stratifiedSample
    * projection (PipelineOps) applied to a streamed corpus. The point is
    * the determinism property: the keep decision is a pure hash of doc_id,
    * so a document keeps or drops IDENTICALLY whether it arrives in batch,
    * in this stream, in a replay after failure, or split across
    * micro-batches — where a rand()/sample()-based sampler would resample
    * on every retry and silently shift the training mixture. Stateless:
    * zero streaming state, and the result shares the batch oracle
    * verbatim.
    */
  def streamStratifiedSample(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, 8) { spark =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"))
      val nChunks = 3
      val tmp = stagedCorpus(dir, "strat") { t =>
        (0 until nChunks).foreach(i =>
          stageOne(docs.where(pmod(col("doc_id"), lit(nChunks)) === i), t, s"chunk$i"))
      }
      val sampled = graft.ops.PipelineOps.stratifiedSample(
        fileStream(spark, docs.schema, tmp.toString),
        rates = Map("en" -> 0.35, "es" -> 0.6, "fr" -> 0.8), defaultRate = 1.0,
        sorted = false)
      // sampled rows are corpus-scale output → parquet file sink, never
      // the driver-heap memory sink (r7 VERDICT #1)
      runToFileSink(sampled, "strat").orderBy(col("doc_id"))
    }

  /** STREAMING near-duplicate detection: the banded simhash dedup
    * (Dedup.simhashPairs semantics) as a stateful stream — the shape of a
    * continuously-ingesting corpus that must flag near-dups ON ARRIVAL
    * rather than in a nightly batch. Each micro-batch computes per-doc
    * 64-bit signatures (native SimHash expression), explodes them into 4
    * disjoint 16-bit band keys, and a flatMapGroupsWithState per
    * (band, key) bucket compares every NEW arrival against the bucket's
    * accumulated (doc_id, sig) state, emitting pairs at hamming <=
    * maxHamming incrementally.
    *
    * Determinism: the qualifying pair SET is arrival-order and chunking
    * invariant — every pair at hamming <= 3 shares at least one full band
    * (pigeonhole over 4 disjoint 16-bit bands), both docs eventually land
    * in that shared bucket whatever the batch split, and the emitted
    * hamming is a pure function of the two signatures. After the
    * cross-band dropDuplicates the result EQUALS the batch
    * `dedup_simhash` output, so this query shares its DuckDB oracle
    * verbatim. Replayed arrivals (at-least-once sources) are no-ops: a
    * doc_id already in bucket state is skipped.
    *
    * State: 16 bytes per (doc, band) — 64 B/doc total, never the text.
    * Unlike the batch path there is NO mega-bucket skip (a stream cannot
    * retract pairs it already emitted if a bucket later exceeds the cap),
    * so buckets past `maxBucket` fail loudly instead of silently
    * diverging from the batch semantics; exact-dup clusters that large
    * should be collapsed by upstream exact dedup first. The cap matches
    * the batch default (8192 — see Dedup.simhashPairs: template-biased
    * signature bits give the regenerated corpus a 317-doc band bucket of
    * genuinely distinct docs at sf0.1 and 1073 at the 100× dir, so 256
    * was far too tight), keeping stream == batch == all-pairs-oracle
    * value-equal.
    */
  def streamDedupSimhash(
      outer: SparkSession, dir: String,
      maxHamming: Int = 3, maxBucket: Int = 8192): DataFrame =
    // diskState: per-bucket state holds every seen (simhash, doc_id) in
    // the band's bucket — Σ over buckets is corpus-scale
    withStreamingPartitions(outer, 8, diskState = true) { spark =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nChunks = 3
      val tmp = stagedCorpus(dir, "simhash") { t =>
        (0 until nChunks).foreach(i =>
          stageOne(docs.where(pmod(col("doc_id"), lit(nChunks)) === i), t, s"chunk$i"))
      }
      val pairs = simhashPairsStream(spark, tmp.toString, docs.schema,
        maxHamming, maxBucket)
      runToFileSink(pairs, "simhash_pairs")
        .dropDuplicates("doc_a", "doc_b")
        .orderBy(col("doc_a"), col("doc_b"))
    }

  /** The streaming near-dup PAIR plan shared by [[streamDedupSimhash]] and
    * the kill-and-resume spec: banded simhash arrivals through the
    * per-bucket flatMapGroupsWithState detector. Cross-band duplicate
    * emissions are NOT collapsed here — the caller dedupes on its sink
    * read (a restartable sink must keep raw emissions so the restart's
    * exactly-once file log stays append-only).
    */
  private def simhashPairsStream(spark: SparkSession, srcDir: String,
      schema: StructType, maxHamming: Int, maxBucket: Int): DataFrame = {
      import spark.implicits._
      val arrivals = fileStream(spark, schema, srcDir)
        .select(col("doc_id"),
          graft.ops.Dedup.simhash64(col("text")).as("sig"))
        .select(col("doc_id"), col("sig"),
          explode(array((0 until 4).map { b =>
            struct(lit(b).as("band"),
              shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
          }: _*)).as("bk"))
        .select(col("bk.band").as("band"), col("bk.key").as("key"),
          col("doc_id"), col("sig"))
        .as[SimhashArrival]

      def fn(key: (Int, Long), it: Iterator[SimhashArrival],
             state: GroupState[SimhashBucketState]): Iterator[SimhashPairOut] = {
        val prev = state.getOption.getOrElse(SimhashBucketState(Array.empty, Array.empty))
        var ids = prev.ids
        var sigs = prev.sigs
        val out = scala.collection.mutable.ArrayBuffer.empty[SimhashPairOut]
        // doc_id order inside the batch: emission CONTENT is order-free
        // (pure signature function), this just keeps logs reproducible
        it.toArray.sortBy(_.doc_id).foreach { a =>
          if (!ids.contains(a.doc_id)) {
            var i = 0
            while (i < ids.length) {
              val h = java.lang.Long.bitCount(sigs(i) ^ a.sig)
              if (h <= maxHamming)
                out += SimhashPairOut(math.min(ids(i), a.doc_id),
                  math.max(ids(i), a.doc_id), h)
              i += 1
            }
            ids = ids :+ a.doc_id
            sigs = sigs :+ a.sig
          }
        }
        if (ids.length > maxBucket)
          throw new IllegalStateException(
            s"simhash bucket $key grew past $maxBucket (${ids.length}): " +
              "collapse exact dups upstream before streaming near-dup detection")
        state.update(SimhashBucketState(ids, sigs))
        out.iterator
      }

      // emissions are near-dup PAIRS — bounded by dup density, not corpus
      // size, on a curated corpus, but a dup-heavy feed makes them
      // row-scale (r7 VERDICT #4): route through the parquet file sink
      // like the other streaming emitters so the bound is structural, not
      // assumed. A qualifying pair can collide in several bands (and so
      // emit from several buckets): the cross-band dropDuplicates on the
      // lazily-read sink dedupes exactly like the batch path's.
      arrivals
        .groupByKey(a => (a.band, a.key))
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
        .toDF()
  }

  /** STREAMING INGEST PIPELINE — the "at-least-once source → exactly-once
    * training corpus" shape, as ONE streaming query: quality filter
    * (stateless, the pretraining-filter thresholds) → exact dedup keeping
    * the canonical min-doc_id per content fingerprint (stateful) →
    * deterministic mixture sampling (stateless hash ticket). The result
    * EQUALS the batch formulation (filter → min-per-fp → ticket), which is
    * what the DuckDB oracle replays.
    *
    * Canonical selection without retraction: streaming cannot revoke an
    * emitted doc when a smaller duplicate arrives later, so the harness
    * stages chunks in ASCENDING doc_id ranges (ntile over doc_id) — the
    * min member of every fingerprint group arrives no later than any
    * other member, making first-batch-wins + min-within-batch equal the
    * batch min-per-fp rule. On a production stream the same guarantee
    * comes from any monotone id assignment (e.g. ingest sequence numbers).
    *
    * State: ONE boolean per distinct fingerprint — the document text never
    * enters the state store. Replayed arrivals are no-ops (fp already
    * seen), which is exactly the at-least-once → exactly-once property.
    */
  def streamPipelineIngest(outer: SparkSession, dir: String): DataFrame = {
    val base = outer.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    // the small-sf corpora contain NO exact duplicates, which would leave
    // the dedup stage green-but-vacuous: plant verbatim copies of every
    // 50th doc under NEGATIVE ids. The canonical-min rule must then emit
    // the PLANTED ids — visible in the output, so the driver's oracle
    // check proves the stateful dedup actually selected canonicals across
    // the group (same de-vacuizing pattern as dedup_embedding_cosine).
    val planted = base.where(pmod(col("doc_id"), lit(50)) === 0)
      .select((-col("doc_id") - 1).as("doc_id"), col("lang"), col("text"))
    streamPipelineIngestOf(base.unionAll(planted), cacheKey = Some(s"$dir#ingest"))
  }

  /** See [[streamPipelineIngest]]; exposed on a frame so tests can feed
    * synthetic corpora. `docs` must be (doc_id, lang, text). `cacheKey`
    * (set by the dir-based wrapper) reuses the staged watched dir across
    * invocations — all files stage before the stream starts, so the cached
    * dir replays the identical batch sequence.
    */
  def streamPipelineIngestOf(docsIn: DataFrame,
      cacheKey: Option[String] = None): DataFrame =
    withStreamingPartitions(docsIn.sparkSession, 8) { spark =>
      import spark.implicits._
      val docs = docsIn.select(col("doc_id"), col("lang"), col("text"))
      val nChunks = 3
      val bounds = docs.select(
        ntile(nChunks).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))).as("b"),
        col("doc_id"), col("lang"), col("text"))
      def build(t: java.nio.file.Path): Unit =
        (1 to nChunks).foreach(b =>
          stageOne(bounds.where(col("b") === b).drop("b"), t, s"chunk$b"))
      val tmp = cacheKey match {
        case Some(k) => stagedCorpus(k, "ingest")(build)
        case None =>
          val t = java.nio.file.Files.createTempDirectory("stream_ingest")
          build(t)
          t
      }

      // quality gate: same features/thresholds as pipeline_pretraining_filter
      val toks = split(trim(col("text")), "\\s+")
      val filtered = fileStream(spark, docs.schema, tmp.toString)
        .withColumn("n_tokens", size(toks))
        .withColumn("nonalpha_ratio",
          length(regexp_replace(col("text"), "[a-z ]", "")).cast(DoubleType) /
            length(col("text")))
        .where(col("n_tokens") >= 5 && col("nonalpha_ratio") < 0.3)
        .select(md5(lower(trim(col("text")))).as("fp"),
          col("doc_id"), col("lang"))
        .as[IngestDoc]

      def fn(fp: String, it: Iterator[IngestDoc],
             state: GroupState[Boolean]): Iterator[IngestOut] =
        if (state.exists) Iterator.empty // duplicate/replay: already ingested
        else {
          state.update(true)
          val canonical = it.reduce((a, b) => if (a.doc_id <= b.doc_id) a else b)
          Iterator.single(IngestOut(canonical.doc_id, canonical.lang, fp))
        }

      val canon = filtered.groupByKey(_.fp)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)

      // deterministic mixture sampling on the canonical stream (stateless;
      // identical ticket/threshold construction to pipeline_stratified_sample)
      val ticket = pmod(
        graft.functions.HashOps.md5Low64(
          concat(lit("strat:"), col("doc_id").cast(StringType))),
        lit(10000L)).cast(IntegerType)
      val threshold = when(col("lang") === "fr", 8000)
        .when(col("lang") === "es", 6000)
        .when(col("lang") === "en", 3500)
        .otherwise(10000)
      val sampled = canon.toDF().where(ticket < threshold)

      // ingested docs are corpus-scale output → parquet file sink, never
      // the driver-heap memory sink (r7 VERDICT #1)
      val out = runToFileSink(sampled, "ingest")
      if (cacheKey.isEmpty) Fs.deleteRecursively(tmp)
      out.orderBy(col("doc_id"))
    }

  /** Driver-sketch restart contract (r5 VERDICT #7). streamCountMin /
    * streamQuantileBottomK accumulate their sketches in DRIVER memory
    * keyed by batchId — if the driver dies mid-stream, that state is gone,
    * and restarting the query from the engine checkpoint alone would
    * resume delivery at the first uncommitted batch with an EMPTY
    * accumulator (silently under-counted sketches). The optional
    * `checkpoint` closes the gap with the standard foreachBatch recipe:
    *
    *  1. the ENGINE checkpoint (`<ckpt>/engine`) makes the file source
    *     skip committed batches on restart and keeps batchIds stable;
    *  2. the DRIVER state file (`<ckpt>/state.bin`) is rewritten
    *     atomically (tmp + ATOMIC_MOVE) after every folded batch with
    *     (folded batchIds, accumulator bytes) and restored at start-up.
    *
    * A batch is folded into memory and THEN persisted, so a crash between
    * fold and persist re-delivers that batch on restart (engine commit
    * also happens after foreachBatch returns) and the recorded batchId set
    * drops the replay — at-least-once delivery, exactly-once accumulation.
    * State is O(sketch) bytes, so the per-batch rewrite is microseconds.
    * OpsSpec kills a run between micro-batches and resumes it on a fresh
    * query, pinning bit-equal final sketches vs the one-pass batch run.
    */
  private def ckptSave(dir: java.nio.file.Path, seen: Iterable[Long])(
      payload: java.io.DataOutputStream => Unit): Unit = {
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve("state.tmp")
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(tmp)))
    try {
      val s = seen.toSeq.sorted
      out.writeInt(s.size)
      s.foreach(out.writeLong)
      payload(out)
    } finally out.close()
    java.nio.file.Files.move(tmp, dir.resolve("state.bin"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def ckptLoad[A](dir: java.nio.file.Path)(
      payload: java.io.DataInputStream => A): Option[(Set[Long], A)] = {
    val f = dir.resolve("state.bin")
    if (!java.nio.file.Files.exists(f)) None
    else {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(f)))
      try {
        val n = in.readInt()
        val seen = (0 until n).map(_ => in.readLong()).toSet
        Some((seen, payload(in)))
      } finally in.close()
    }
  }

  /** The ONE restartable driver-fold runner (review r6: countMinRun /
    * ridgeRun / bottomKRun had grown three copies of this scaffold): a
    * staged directory arrives as a file stream, each micro-batch is
    * folded to a driver-small summary `S`, and summaries merge into an
    * accumulator whose final value must be independent of chunking and
    * arrival order (the caller's algebra guarantees it: additive matrix,
    * additive integer sums, keyed set-deterministic buffers).
    *
    * foreachBatch is AT-LEAST-ONCE: a retried micro-batch arrives with
    * the SAME batchId, and merging it twice would silently break the
    * claimed bit-equality with the one-pass batch computation — so
    * batchIds are recorded (and checkpointed, see [[ckptSave]]) and
    * replays skipped. Returns (accumulated S, distinct folded batch
    * count including restored history).
    */
  private def driverFoldRun[S](
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      checkpoint: Option[java.nio.file.Path],
      filesPerTrigger: Int,
      zero: => S,
      foldBatch: DataFrame => S,
      merge: (S, S) => S,
      save: (java.io.DataOutputStream, S) => Unit,
      load: java.io.DataInputStream => S): (S, Int) = {
    val restored = checkpoint.flatMap(c => ckptLoad(c)(load))
    var acc = restored.map(_._2).getOrElse(zero)
    val seen = scala.collection.mutable.Set.empty[Long]
    restored.foreach(r => seen ++= r._1)
    val lock = new Object
    runForeachBatch(fileStream(spark, schema, srcDir.toString, filesPerTrigger),
        "fold", checkpoint.map(_.resolve("engine"))) { (batch, batchId) =>
      if (!lock.synchronized(seen.contains(batchId))) {
        val part = foldBatch(batch)
        lock.synchronized {
          if (seen.add(batchId)) {
            acc = merge(acc, part)
            checkpoint.foreach(c => ckptSave(c, seen)(out => save(out, acc)))
          }
        }
      }
    }
    (lock.synchronized(acc), lock.synchronized(seen.size))
  }

  /** One restartable Count-Min accumulation run over a staged directory
    * ([[driverFoldRun]] with the purely additive matrix algebra). Split
    * from [[streamCountMin]] so the kill-resume test can drive it in
    * phases against one checkpoint.
    */
  private[graft] def countMinRun(
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      checkpoint: Option[java.nio.file.Path],
      filesPerTrigger: Int = 1): (Array[Long], Int) = {
    import graft.ops.{CountMin, Sketches}
    driverFoldRun[Array[Long]](spark, srcDir, schema, checkpoint, filesPerTrigger,
      zero = new Array[Long](CountMin.d * CountMin.w),
      foldBatch = b => Sketches.countMinSketch(b),
      merge = (a, b) => Array.tabulate(a.length)(i => a(i) + b(i)),
      save = (out, s) => { out.writeInt(s.length); s.foreach(out.writeLong) },
      load = in => { val n = in.readInt(); Array.fill(n)(in.readLong()) })
  }

  /** STREAMING Count-Min accumulation: the corpus arrives as a file stream
    * (one staged chunk per micro-batch), each micro-batch folds its tokens
    * into the per-batch CM matrix, and the driver adds matrices. Because CM
    * state is PURELY ADDITIVE (graft.ops.CountMin), the streamed total is
    * BIT-IDENTICAL to the one-pass batch sketch under any chunking — the
    * strongest mergeability statement a sketch can make, and why this query
    * shares the batch sketch_count_min oracle verbatim. The audit side then
    * grades the streamed matrix against exact batch counts.
    *
    * At scale this is the shape of a continuously-updated corpus frequency
    * monitor: O(d·w) state total, no per-key streaming state store at all.
    * Driver-restart durability: see [[ckptSave]] — pass `checkpoint` to
    * make the accumulator survive a driver kill (OpsSpec pins recovery).
    */
  def streamCountMin(outer: SparkSession, dir: String,
      checkpoint: Option[java.nio.file.Path] = None): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.Sketches
      val docs = stagedDocsFrame(spark, dir)
      // CM accumulation is bit-identical under ANY chunking, so staging is
      // a parallel multi-part write and each trigger folds a PARALLEL
      // multi-file batch (see stagedDocsCorpus).
      val (tmp, fpt) = stagedDocsCorpus(spark, dir)
      val (total, nSeen) = countMinRun(spark, tmp, docs.schema, checkpoint, fpt)
      requireBatches(nSeen)
      Sketches.countMinAuditWith(docs, total)
    }

  /** One restartable sufficient-statistics accumulation run (the
    * [[countMinRun]] shape for model training): per micro-batch, ONE
    * aggregation computes the nine exact-integer normal-equation sums
    * (graft.ops.QualityModel.sufficient) and the driver adds them —
    * BigInt addition is associative/commutative, so the accumulated
    * Stats are bit-identical to the one-pass batch aggregation under any
    * chunking, arrival order, or retry (batchIds recorded, replays
    * skipped). Checkpoint payload is the nine decimal strings.
    */
  private[graft] def ridgeRun(
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      checkpoint: Option[java.nio.file.Path],
      filesPerTrigger: Int = 1): (graft.ops.QualityModel.Stats, Int) = {
    import graft.ops.QualityModel
    driverFoldRun[QualityModel.Stats](spark, srcDir, schema, checkpoint,
      filesPerTrigger,
      zero = QualityModel.Stats.zero,
      foldBatch = b => QualityModel.sufficient(QualityModel.features(b)),
      merge = _ |+| _,
      save = (out, s) =>
        Seq(s.n, s.s1, s.s2, s.s11, s.s12, s.s22, s.t0, s.t1, s.t2)
          .foreach(x => out.writeUTF(x.toString)),
      load = in => {
        val v = Vector.fill(9)(BigInt(in.readUTF()))
        QualityModel.Stats(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8))
      })
  }

  /** STREAMING quality-model refresh: the corpus arrives as a file stream
    * and each micro-batch folds its nine exact-integer normal-equation
    * sums into the driver accumulator — continuous RE-TRAINING of the
    * ridge quality scorer (graft.ops.QualityModel) as documents arrive.
    * Because the sufficient statistics are purely additive integers, the
    * streamed model is BIT-IDENTICAL to the batch fit under any chunking
    * — the stream_count_min additivity argument applied to model
    * training, which is why this query replays the batch
    * pipeline_quality_ridge DuckDB oracle verbatim. State is nine BigInts
    * (O(p²) for p features), no per-key store; the final scoring pass is
    * the same broadcast-literal projection as the batch query.
    */
  def streamQualityRidge(outer: SparkSession, dir: String,
      checkpoint: Option[java.nio.file.Path] = None): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.QualityModel
      val docs = stagedDocsFrame(spark, dir)
      val (tmp, fpt) = stagedDocsCorpus(spark, dir)
      val (st, nSeen) = ridgeRun(spark, tmp, docs.schema, checkpoint, fpt)
      requireBatches(nSeen)
      QualityModel.score(QualityModel.features(docs), QualityModel.solve(st))
    }

  /** STREAMING corpus-release diff: the version-2 release's fingerprints
    * arrive as a file stream. The per-row verdicts (added / changed /
    * unchanged) are decidable ON ARRIVAL against the static v1
    * fingerprint table, so each micro-batch emits them immediately —
    * idempotently, one overwritten partition directory per batchId, so an
    * at-least-once replay cannot duplicate a verdict — while the arriving
    * keys accumulate to a DISK table (never driver memory). `removed`, the
    * one verdict that needs v2 COMPLETENESS, is a single anti-join at
    * stream close. Every verdict is a per-row function of (row, v1) and
    * the removed set is a function of the v2 SET, so the final frame is
    * BIT-IDENTICAL to the batch [[graft.ops.PipelineOps.snapshotDiff]]
    * under any chunking — and replays the batch DuckDB oracle verbatim.
    *
    * Scale shape: at 100 TB the v1 side is bucketed by the snapshot key,
    * making each per-batch lookup join co-located; the accumulated delta /
    * seen tables are the CDC-ingest append pattern (the
    * stream_ivfpq_upsert discipline), partitioned by batch.
    */
  def streamDatasetDiff(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.PipelineOps
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val v1 = PipelineOps.v1Fingerprints(docs).persist()
      val v2 = PipelineOps.v2Fingerprints(docs)
      // v2 cardinality ~ corpus (19/20 carried + adds)
      val nV2 = Fs.rowCount(docs)
      val nChunks = math.max(3L, math.min(96L, nV2 / 50000L)).toInt
      val tmp = stagedCorpus(dir, "diffv2") { t =>
        stageParts(v2, t, "chunk", nChunks, col("doc_id"))
      }
      val work = java.nio.file.Files.createTempDirectory("graft_diff_stream")
      val seenIds = diffRun(spark, tmp, v2.schema, v1, work,
        checkpoint = None, filesPerTrigger = math.max(1, nChunks / 3))
      requireBatches(seenIds.size)
      // materialize before the temp tables go away: |v2| delta rows plus
      // ≤ |v1| removed, both at most the corpus
      val out = Fs.materialize(diffAssemble(spark, v1, work), 2L * nV2)
      v1.unpersist()
      Fs.deleteRecursively(work)
      out
    }

  /** One restartable diff-ingest run: per micro-batch, per-row verdicts
    * vs static v1 and the arriving keys are written IDEMPOTENTLY (one
    * overwritten partition directory per batchId), so this stream's
    * restart contract needs NO driver state at all — the engine
    * checkpoint (`<ckpt>/engine`) skips committed batches on restart and
    * the work dirs already hold their output (a replayed uncommitted
    * batch just overwrites its own directory). Returns the batchIds this
    * run folded; OpsSpec kills a run between batches and resumes it,
    * pinning the assembled result bit-equal to the batch diff.
    */
  private[graft] def diffRun(
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType, v1: DataFrame,
      work: java.nio.file.Path, checkpoint: Option[java.nio.file.Path],
      filesPerTrigger: Int): Set[Long] = {
    def verdicts(arr: DataFrame): DataFrame =
      arr.join(v1, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("fp1").isNull, "added")
            .when(col("fp1") =!= col("fp2"), "changed")
            .otherwise("unchanged").as("status"))
        .where(col("status") =!= "unchanged")
    runBatchDirs(fileStream(spark, schema, srcDir.toString, filesPerTrigger),
      "diff", checkpoint.map(_.resolve("engine")))(
      work.resolve("delta") -> verdicts,
      work.resolve("seen") -> (_.select(col("doc_id"))))
  }

  /** Assemble the final diff from a (possibly resumed) [[diffRun]] work
    * dir: `removed` = v1 anti-join the accumulated seen keys, unioned
    * with the per-batch verdict partitions.
    */
  private[graft] def diffAssemble(spark: SparkSession, v1: DataFrame,
      work: java.nio.file.Path): DataFrame = {
    val seenAll = spark.read.parquet(work.resolve("seen").toString)
      .select(col("doc_id"))
    val removed = v1.join(seenAll, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("status"))
    val delta = spark.read.parquet(work.resolve("delta").toString)
      .select(col("doc_id"), col("status"))
      .unionByName(removed)
    graft.ops.PipelineOps.withStatusTotals(delta)
  }

  /** STREAMING CDC MERGE — the incremental member of the lakehouse-merge
    * family (batch twin: pipeline_cdc_merge). The change feed arrives as a
    * file stream in ARBITRARY chunks (ops for one key may split across
    * micro-batches in any order). Each micro-batch is compacted per key
    * (arg-max-by-seq with the winning seq RETAINED —
    * [[graft.Queries.cdcCompact]]) and written as ONE sorted delta run in
    * its own `bid=<batchId>` directory: the WRITE-OPTIMIZED half of
    * merge-on-read CDC (the Hudi-MOR / LSM shape), so per-batch cost is
    * O(|batch|) and NEVER touches accumulated state. At close, one
    * compaction shuffle folds all runs (associative: re-compacting
    * {per-run winners} picks the global latest op per key) and one
    * key-equi join applies the result to the base snapshot — bit-identical
    * to the one-pass batch merge under any chunking or arrival order,
    * which is why this query shares pipeline_cdc_merge's DuckDB oracle
    * verbatim. Tombstones ('D' rows) live in the runs and filter only at
    * emit, so a delete arriving before a stale lower-seq update still wins.
    *
    * Design note: a compact-on-write variant (dynamic-partition-overwrite
    * of touched state buckets per batch, the stream_disagg_incremental
    * pattern) pays O(touched state) per batch — right when deltas are
    * localized, catastrophically wrong for a uniform-key churn feed where
    * every batch touches every bucket (measured: the bucketed variant
    * rewrote — and cached — the FULL changelog per batch and OOMed at the
    * 1000× decade; this run-per-batch form replaced it).
    *
    * Restart contract: run directories are idempotent (a replayed batch
    * overwrites its own `bid=` dir with identical content — the diffRun
    * contract), so an engine checkpoint alone recovers a killed run; no
    * driver state.
    */
  def streamCdcMerge(outer: SparkSession, dir: String): DataFrame =
    // no per-key state store (parquet delta runs), so the per-batch folds
    // and the close-time compaction/apply run at full parallelism — the
    // stream_count_min discipline (ROUND6_NOTES §10)
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val log = graft.Queries.cdcLog(o)
      // chunk count scales with feed size; hash on (k, seq) so one key's
      // ops split across micro-batches and exercise cross-batch folding
      val nChunks = math.max(4L, math.min(64L,
        Fs.rowCount(o) / 40000L)).toInt
      val tmp = stagedCorpus(dir, "cdclog") { t =>
        stageParts(log, t, "chunk", nChunks, xxhash64(col("k"), col("seq")))
      }
      val runsDir = java.nio.file.Files.createTempDirectory("graft_cdc_runs")
      requireBatches(cdcRuns(spark, tmp, log.schema, math.max(1, nChunks / 4),
        runsDir, checkpoint = None).size)
      // the merged snapshot is CORPUS-sized: no localCheckpoint (evicted
      // checkpoint blocks are unrecoverable — this is what OOMed the
      // bucketed variant at 1000×); return the lazy merge-on-read frame
      // and keep the runs dir alive until JVM exit
      Fs.deferDelete(runsDir)
      val runs = spark.read.parquet(runsDir.toString)
      graft.Queries.cdcApply(o, graft.Queries.cdcCompact(runs))
    }

  /** The [[streamCdcMerge]] delta-run pass: each micro-batch compacted
    * into its own `bid=` run under `runsDir` ([[runBatchDirs]]). Returns
    * the distinct batchIds written.
    */
  private def cdcRuns(spark: SparkSession, src: java.nio.file.Path,
      schema: StructType, filesPerTrigger: Int, runsDir: java.nio.file.Path,
      checkpoint: Option[java.nio.file.Path]): Set[Long] =
    runBatchDirs(fileStream(spark, schema, src.toString, filesPerTrigger),
      "cdc", checkpoint)(runsDir -> (graft.Queries.cdcCompact(_)))

  /** Restartable run of the [[streamCdcMerge]] delta-run sink over a
    * staged chunk dir: one AvailableNow pass writing per-batch compacted
    * runs into PERSISTENT `runsDir` under engine checkpoint `ckpt` — the
    * production [[cdcRuns]] pass, one file per micro-batch. Test surface
    * for the kill-and-resume contract of the IDEMPOTENT-SINK foreachBatch
    * family: a batch replayed after a crash-between-write-and-commit gets
    * the SAME batchId, so its mode("overwrite") `bid=` dir write replaces
    * the uncommitted attempt — the spec plants a poisoned stale bid dir to
    * prove the overwrite actually fires.
    */
  private[graft] def cdcMergeResumeRun(outer: SparkSession,
      src: java.nio.file.Path, schema: StructType,
      ckpt: java.nio.file.Path, runsDir: java.nio.file.Path): Unit =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      cdcRuns(spark, src, schema, 1, runsDir, Some(ckpt)); ()
    }

  /** The ONE daily fixed-point frame behind window_ewma AND stream_ewma —
    * they share a DuckDB oracle verbatim, so the derivation (day formula,
    * DECIMAL(18,4)·10⁴ route, exact decimal total) must be a single
    * definition that cannot drift (review r6). Returns
    * (event_type, day, d4 DECIMAL(38,0)).
    */
  private[graft] def ewmaDaily(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast(DecimalType(18, 4)) * 10000)
          .cast(LongType).as("v4"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("v4").cast(DecimalType(38, 0))).as("d4"))

  /** The day-ordered daily-close stream behind stream_ewma and
    * stream_holt_trend: `fn` runs per event_type over a bounded ring of
    * daily totals, emitting into a memory table. ONE derivation shared with
    * the batch windows (they claim the same oracles verbatim, so the daily
    * frame must be a single definition); the decimal total narrows to the
    * Long the ring state holds — exact while a day total fits 2^63 (~10¹⁴
    * at the 1000× decade), ANSI-loud beyond.
    */
  private def dailyCloseRun[U: org.apache.spark.sql.Encoder](
      spark: SparkSession, dir: String, kind: String)(
      fn: (String, Iterator[EwmaDay], GroupState[EwmaRing]) => Iterator[U]): DataFrame = {
    import spark.implicits._
    val daily = ewmaDaily(spark, dir)
      .select(col("event_type"), col("day"),
        col("d4").cast(LongType).as("d4"))
      .persist() // the min/max action + three staged writes share one scan
    // three CONTIGUOUS day ranges staged in order (stagedCorpus
    // normalizes mtimes in creation order; maxFilesPerTrigger=1 replays
    // them as ordered micro-batches) — day order per key is the stream's
    // semantic contract, so stageParts' arbitrary chunking is NOT legal here
    val (minDay, maxDay) = {
      val r = daily.agg(min(col("day")), max(col("day"))).head()
      if (r.isNullAt(0)) (0L, 2L) else (r.getLong(0), r.getLong(1))
    }
    val t1 = minDay + (maxDay - minDay) / 3
    val t2 = minDay + 2 * (maxDay - minDay) / 3
    val tmp = stagedCorpus(dir, kind) { t =>
      stageOne(daily.where(col("day") <= t1), t, "chunk0")
      stageOne(daily.where(col("day") > t1 && col("day") <= t2), t, "chunk1")
      stageOne(daily.where(col("day") > t2), t, "chunk2")
    }
    daily.unpersist()
    val stream = fileStream(spark, daily.schema, tmp.toString)
      .as[EwmaDay]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    runToMemory(stream.toDF(), kind).orderBy(col("event_type"), col("day"))
  }

  /** STREAMING EWMA: the daily-close feed (exact fixed-point totals per
    * series per day, the shape a downstream consumes from a daily
    * aggregation job) arrives in day order across micro-batches; per-key
    * state is the last ≤32 totals — O(32 longs) per series, the truncated
    * window made explicit as BOUNDED state. Each arriving day emits its
    * smoothed value via the identical exact-integer fold + single
    * string-routed division as the batch window_ewma (α=1/2 ⇒ power-of-two
    * weights, nothing rounds before the one division), so the streamed
    * frame is BIT-IDENTICAL to the batch window and replays its DuckDB
    * oracle verbatim. Day totals are exact Longs here (ANSI throws loudly
    * on overflow, ~10¹⁴ at the 1000× decade vs 2⁶³).
    */
  def streamEwma(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, 8) { spark =>
      import spark.implicits._
      def fn(key: String, rows: Iterator[EwmaDay],
          state: GroupState[EwmaRing]): Iterator[EwmaOut] = {
        var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty)
        val out = rows.toVector.sortBy(_.day).map { r =>
          ring = (ring :+ r.d4).takeRight(32)
          val n = ring.length
          val num = ring.zipWithIndex
            .map { case (x, i) => BigInt(x) << i }.sum
          val denom = (((1L << n) - 1) * 10000L).toDouble
          EwmaOut(key, r.day,
            java.lang.Double.parseDouble(r.d4.toString) / 10000.0,
            n, java.lang.Double.parseDouble(num.toString) / denom)
        }
        state.update(EwmaRing(ring))
        out.iterator
      }
      dailyCloseRun(spark, dir, "ewma")(fn)
    }

  /** STREAMING Holt linear-trend smoothing: the day-ordered daily-close
    * feed (the stream_ewma choreography — three contiguous day ranges as
    * ordered micro-batches), per-series state a bounded ≤16-long ring,
    * each arrival emitting (level, trend) through graft.ops.HoltTrend's
    * exact integer coefficient dot products and the same single
    * string-routed division as the batch window — bit-identical frame,
    * same oracle verbatim.
    */
  def streamHoltTrend(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, 8) { spark =>
      import spark.implicits._
      import graft.ops.HoltTrend
      def fn(key: String, rows: Iterator[EwmaDay],
          state: GroupState[EwmaRing]): Iterator[HoltOut] = {
        var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty)
        val out = rows.toVector.sortBy(_.day).map { r =>
          ring = (ring :+ r.d4).takeRight(HoltTrend.W)
          val n = ring.length
          val (lc, bc) = HoltTrend.coefs(n - 1)
          def dot(cs: Vector[Long]): BigInt =
            ring.lazyZip(cs).map((x, c) => BigInt(x) * c).sum
          val den = ((1L << (2 * n)) * 10000L).toDouble
          HoltOut(key, r.day,
            java.lang.Double.parseDouble(r.d4.toString) / 10000.0, n,
            java.lang.Double.parseDouble(dot(lc).toString) / den,
            java.lang.Double.parseDouble(dot(bc).toString) / den)
        }
        state.update(EwmaRing(ring))
        out.iterator
      }
      dailyCloseRun(spark, dir, "holt")(fn)
    }

  /** One restartable bottom-k accumulation run (the [[countMinRun]] shape
    * for a keyed, non-additive but set-deterministic sketch): returns
    * (per-group buffers, folded batch count incl. restored history).
    */
  private[graft] def bottomKRun(
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      checkpoint: Option[java.nio.file.Path],
      filesPerTrigger: Int = 1): (Map[String, Array[Long]], Int) = {
    import graft.ops.BottomKSample
    val bk = new BottomKSample(256)
    driverFoldRun[Map[String, Array[Long]]](spark, srcDir, schema, checkpoint,
      filesPerTrigger,
      zero = Map.empty,
      foldBatch = { b =>
        val session = b.sparkSession
        import session.implicits._
        b.select(col("event_type"), col("event_id"), col("value"))
          .as[(String, Long, Double)]
          .groupByKey(_._1)
          .agg(bk.toColumn.name("bk"))
          .collect().toMap
      },
      merge = (a, p) => a ++ p.map { case (et, buf) =>
        et -> a.get(et).map(x => bk.merge(x, buf)).getOrElse(buf)
      },
      save = keyedLongArraySave,
      load = keyedLongArrayLoad)
  }

  /** STREAMING group-wise quantile estimation: per-micro-batch bottom-k
    * buffers (graft.ops.BottomKSample) merged into a per-group accumulator.
    * "k smallest hashes of the union" is merge-order INDEPENDENT, so the
    * accumulated sketch — and every quantile read off it — is bit-equal to
    * the batch sketch_quantile_bottomk under ANY chunking or arrival order,
    * and the streaming query replays the SAME DuckDB oracle (the
    * streamCountMin additivity pattern, extended to a non-additive but
    * set-deterministic sketch). foreachBatch is at-least-once, so batchIds
    * are recorded and replays skipped; state is O(groups · k) longs on the
    * driver — the production shape would keep it in an aggregation state
    * store, but the merge algebra is the point being exercised.
    */
  def streamQuantileBottomK(outer: SparkSession, dir: String,
      checkpoint: Option[java.nio.file.Path] = None): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.Sketches
      // cached: three chunked staging writes + four audit scans otherwise
      // re-read the parquet seven times (24 MB of 3 columns at sf0.1)
      val ev = events(spark, dir)
        .select(col("event_type"), col("event_id"), col("value"))
        .persist()
      // bottom-k ("k smallest hashes of the union") is set-deterministic,
      // so chunking is free to follow staging parallelism: ~250k
      // three-column event rows per file, several files per trigger (the
      // stagedDocsCorpus within-batch-parallelism discipline).
      val (nChunks, perTrigger) = rowChunks(Fs.rowCount(ev))
      val tmp = stagedCorpus(dir, "bk") { t =>
        stageParts(ev, t, "chunk", nChunks, col("event_id"))
      }
      val (acc, nSeen) = bottomKRun(spark, tmp, ev.schema, checkpoint,
        perTrigger)
      requireBatches(nSeen)
      // materialize before releasing the cached input: one row per
      // (group, q), four default quantiles
      val audit =
        Fs.materialize(Sketches.quantileAuditWith(ev, acc.toSeq.sortBy(_._1)), 4L * acc.size)
      ev.unpersist()
      audit
    }

  /** One restartable day-keyed bottom-k accumulation run (the
    * [[countMinRun]] shape for the temporal quantile rollup): split from
    * [[streamWindowQuantile]] so the kill-resume spec can drive it in
    * phases against one checkpoint (r6 VERDICT #6).
    */
  private[graft] def windowQuantileRun(
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      checkpoint: Option[java.nio.file.Path],
      filesPerTrigger: Int = 1): (Map[String, Array[Long]], Int) = {
    import graft.ops.{BottomKSample, Sketches}
    val bk = new BottomKSample(Sketches.windowQuantileK)
    driverFoldRun[Map[String, Array[Long]]](
      spark, srcDir, schema, checkpoint, filesPerTrigger,
      zero = Map.empty,
      foldBatch = { b =>
        val session = b.sparkSession
        import session.implicits._
        b.select(col("d"), col("event_id"), col("value"))
          .as[(String, Long, Double)]
          .groupByKey(_._1)
          .agg(bk.toColumn.name("bk"))
          .collect().toMap
      },
      merge = (a, p) => a ++ p.map { case (d, arr) =>
        d -> a.get(d).map(x => bk.merge(x, arr)).getOrElse(arr)
      },
      save = keyedLongArraySave,
      load = keyedLongArrayLoad)
  }

  /** STREAMING temporal quantile rollup: the (day, event_id, value) feed
    * arrives as a file stream and each micro-batch folds per-day bottom-k
    * minima into the driver's day-keyed sketch map — "k smallest event-id
    * hashes of the union" is set-deterministic per day, so the merged map
    * is bit-identical to the batch Sketches.windowQuantileSketches under
    * any chunking and the trailing-window frame reuses the batch assembly
    * and oracle verbatim. O(days · 3k) longs of driver state — live
    * maintenance of the percentile sketch table.
    */
  def streamWindowQuantile(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.Sketches
      val ev = events(spark, dir)
      // elements are a 1:1 projection of events, so the chunk sizing can
      // come from the events' parquet footers (Fs.rowCount — no Spark
      // job) instead of
      // persist()+count() on the projected frame, which materialized one
      // full extra copy of the corpus before the fold even started (r10
      // VERDICT #3: staging, not math, dominated this member's constant).
      // el is then evaluated exactly once, inside the staging write.
      val el = Sketches.windowQuantileElements(ev)
      val (nChunks, perTrigger) = rowChunks(Fs.rowCount(ev))
      val tmp = stagedCorpus(dir, "winquant") { t =>
        stageParts(el, t, "chunk", nChunks, col("event_id"))
      }
      val (acc, nSeen) = windowQuantileRun(spark, tmp, el.schema, None,
        perTrigger)
      requireBatches(nSeen)
      // stable result frame once staging is released: days × 2 quantiles
      Fs.materialize(Sketches.windowQuantileWith(ev,
        acc.map { case (d, arr) => d.toLong -> arr }), 2L * acc.size)
    }

  /** One restartable shard-manifest accumulation run (the [[countMinRun]]
    * shape for the training-shard maintenance fold): split from
    * [[streamShardShuffle]] so the kill-resume spec can drive it in phases
    * against one checkpoint (r6 VERDICT #6).
    */
  private[graft] def shardShuffleRun(
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      checkpoint: Option[java.nio.file.Path],
      filesPerTrigger: Int = 1): (Map[Long, ShardAcc], Int) =
    driverFoldRun[Map[Long, ShardAcc]](
      spark, srcDir, schema, checkpoint, filesPerTrigger,
      zero = Map.empty,
      foldBatch = { b =>
        b.groupBy(col("shard")).agg(
            count(lit(1)).as("n"),
            sum(col("n_tokens")).as("tok"),
            sum(col("k").cast(DecimalType(38, 0))).as("ck"),
            expr("slice(sort_array(collect_list(struct(k, doc_id))), 1, 3)")
              .as("heads"))
          .collect().map { r =>
            r.getLong(0) -> ShardAcc(r.getLong(1), r.getLong(2),
              BigInt(r.getDecimal(3).toBigInteger),
              r.getSeq[org.apache.spark.sql.Row](4)
                .map(h => (h.getLong(0), h.getLong(1))))
          }.toMap
      },
      merge = (a, p) => a ++ p.map { case (sh, acc2) =>
        sh -> a.get(sh).map(_.merge(acc2)).getOrElse(acc2)
      },
      save = (out, s) => {
        val entries = s.toSeq.sortBy(_._1)
        out.writeInt(entries.size)
        entries.foreach { case (sh, a) =>
          out.writeLong(sh); out.writeLong(a.n); out.writeLong(a.tok)
          out.writeUTF(a.checksum.toString)
          out.writeInt(a.heads.size)
          a.heads.foreach { case (k, d) => out.writeLong(k); out.writeLong(d) }
        }
      },
      load = in => {
        val n = in.readInt()
        (0 until n).map { _ =>
          val sh = in.readLong()
          val acc2 = ShardAcc(in.readLong(), in.readLong(),
            BigInt(in.readUTF()),
            (0 until in.readInt()).map(_ => (in.readLong(), in.readLong())))
          sh -> acc2
        }.toMap
      })

  /** STREAMING shard-manifest maintenance: documents arrive as a file
    * stream and each micro-batch folds its per-shard contribution —
    * counts, exact token mass, the BigInt key checksum, and the three
    * smallest (key, doc) pairs — into driver state. Every component is
    * associative and the head set is "3 smallest of the union"
    * (set-deterministic bottom-k), so the assembled manifest is
    * BIT-IDENTICAL to the batch pipeline_shard_shuffle under any chunking
    * and replays its DuckDB oracle verbatim. O(shards · 3) driver state:
    * how a live ingest keeps the training-shard manifest current without
    * re-sorting the corpus.
    */
  def streamShardShuffle(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import spark.implicits._
      val src = spark.read.parquet(s"$dir/documents.parquet")
      // schema resolution is plan-only; the count + derivation run INSIDE
      // the staging builder, so cached re-invocations (stagedCorpus is
      // per-(dir, kind)) skip the full-corpus scan entirely (review r6-s3)
      val elSchema = graft.Queries.shardShuffleElements(src).schema
      val tmp = stagedCorpus(dir, "shardshuf") { t =>
        val el = graft.Queries.shardShuffleElements(src)
        val (nChunks, _) = rowChunks(Fs.rowCount(el))
        stageParts(el, t, "chunk", nChunks, col("doc_id"))
      }
      val nFiles = {
        val listing = java.nio.file.Files.list(tmp)
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala.count(_.toString.endsWith(".parquet"))
        } finally listing.close()
      }
      val (acc, nSeen) = shardShuffleRun(spark, tmp, elSchema, None,
        math.max(1, nFiles / 3))
      requireBatches(nSeen)
      val mx = acc.values.map(_.n).max
      val mn = acc.values.map(_.n).min
      val rows = acc.toSeq.sortBy(_._1).map { case (sh, a) =>
        ShardShuffleRow(sh, a.n, a.tok, a.checksum.toString.toDouble,
          a.heads.map(_._2).mkString(","),
          mx.toDouble / mn.toDouble <= 1.5)
      }
      spark.createDataFrame(rows).orderBy(col("shard"))
    }

  /** The ONE codec for Map[String → Array[Long]] driver state (bottom-k /
    * KMV keyed sketch maps): three call sites previously carried verbatim
    * copies; a format change applied to one would silently desync the
    * others' checkpoints.
    */
  private def keyedLongArraySave(
      out: java.io.DataOutputStream, s: Map[String, Array[Long]]): Unit = {
    val entries = s.toSeq.sortBy(_._1)
    out.writeInt(entries.size)
    entries.foreach { case (key, arr) =>
      out.writeUTF(key)
      out.writeInt(arr.length)
      arr.foreach(out.writeLong)
    }
  }

  private def keyedLongArrayLoad(
      in: java.io.DataInputStream): Map[String, Array[Long]] = {
    val n = in.readInt()
    (0 until n).map { _ =>
      val key = in.readUTF()
      val m = in.readInt()
      key -> Array.fill(m)(in.readLong())
    }.toMap
  }

  /** ONE definition of the keyed-KMV-map driver fold shared by
    * streamSetIntersection and streamWindowDistinct (review r6-s3: the
    * codec/merge plumbing must not exist twice — a serialization or merge
    * change applied to one copy would silently desync the other).
    * Folds a staged (keyCol, "e") element frame into Map[key → k-minimums].
    */
  private[graft] def kmvMapFoldRun(
      spark: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType,
      filesPerTrigger: Int, keyCol: String,
      k: Int,
      checkpoint: Option[java.nio.file.Path] = None): (Map[String, Array[Long]], Int) = {
    val kmv = new graft.ops.KMinValues(k)
    driverFoldRun[Map[String, Array[Long]]](
      spark, srcDir, schema, checkpoint, filesPerTrigger,
      zero = Map.empty,
      foldBatch = { b =>
        val session = b.sparkSession
        import session.implicits._
        b.select(col(keyCol), col("e")).as[(String, String)]
          .groupByKey(_._1)
          .agg(kmv.toColumn.name("kmv"))
          .collect().toMap
      },
      merge = (a, p) => a ++ p.map { case (key, arr) =>
        key -> a.get(key).map(x => kmv.merge(x, arr)).getOrElse(arr)
      },
      save = keyedLongArraySave,
      load = keyedLongArrayLoad)
  }

  /** STREAMING θ-sketch set algebra: the per-event-type visitor-day
    * element feed arrives as a file stream and each micro-batch folds its
    * own KMV k-minimums into the per-set driver sketches — "k smallest of
    * the union" is a deterministic function of the element SET, so the
    * merged arrays are BIT-IDENTICAL to the batch sketches under ANY
    * chunking/arrival order and the final frame reuses the batch assembly
    * (Sketches.setIntersectionWith) and its DuckDB oracle verbatim. O(k)
    * longs per set on the driver, nothing else; chunking is free to follow
    * staging parallelism (the stageParts discipline).
    */
  def streamSetIntersection(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.Sketches
      val ev = events(spark, dir)
      // persist() is NOT just count+staging sharing here (the
      // stream_window_quantile finding does not transfer): the exact-audit
      // assembly below re-derives setElements(ev) with the IDENTICAL
      // logical plan, and Spark's cache plan-matching serves that distinct
      // scan from this persisted frame — dropping it re-evaluated the
      // element projection from parquet and read +55% warm (measured r11;
      // windowDistinctWith's audit uses a different projection, so THAT
      // member safely lost its persist).
      val el = Sketches.setElements(ev).persist()
      val (nChunks, perTrigger) = rowChunks(Fs.rowCount(el))
      val tmp = stagedCorpus(dir, "setalg") { t =>
        stageParts(el, t, "chunk", nChunks, col("e"))
      }
      val (acc, nSeen) = kmvMapFoldRun(spark, tmp, el.schema,
        perTrigger, "t", Sketches.setAlgebraK)
      requireBatches(nSeen)
      // materialize before releasing the cached input: three set pairs
      val out = Fs.materialize(Sketches.setIntersectionWith(ev, acc), 3L)
      el.unpersist()
      out
    }

  /** STREAMING temporal sketch rollup: the (day, element) activity feed
    * arrives as a file stream and each micro-batch folds per-DAY KMV
    * minima into the driver's day-keyed sketch map — set-determinism per
    * day makes the merged map bit-identical to the batch
    * Sketches.windowDistinctSketches under any chunking, so the final
    * trailing-window frame reuses the batch assembly and oracle verbatim.
    * Driver state is O(days · k) longs; this is exactly how a metrics
    * store maintains its daily sketch table from an ingest stream.
    */
  def streamWindowDistinct(outer: SparkSession, dir: String): DataFrame =
    streamWindowDistinctOf(outer, dir, subset = false)

  /** The `*_subset` sibling (r7 VERDICT #5b): identical pipeline over the
    * deterministic 1/16 user subset ([[graft.ops.Sketches.windowDistinctSubsetOf]]),
    * restriction replayed verbatim in the DuckDB oracle. Exists so the
    * top-decade exponent can be measured on a run whose exact-grading
    * audit is not the dominant linear scan.
    */
  def streamWindowDistinctSubset(outer: SparkSession, dir: String): DataFrame =
    streamWindowDistinctOf(outer, dir, subset = true)

  private def streamWindowDistinctOf(
      outer: SparkSession, dir: String, subset: Boolean): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.Sketches
      val ev0 = events(spark, dir)
      val ev = if (subset) Sketches.windowDistinctSubsetOf(ev0) else ev0
      // activityElements is a 1:1 projection of ev, so the chunk-sizing
      // count reads ev's footers (the subset variant's count job reads
      // only the user_id hash filter) and the staging write is the
      // ONLY full evaluation of el — the stream_window_quantile staging
      // discipline (r10 VERDICT #3); windowDistinctWith audits from `ev`
      // directly, so el has no third consumer.
      val el = Sketches.activityElements(ev)
      val (nChunks, perTrigger) = rowChunks(Fs.rowCount(ev))
      val tmp = stagedCorpus(dir, if (subset) "windist_sub" else "windist") { t =>
        stageParts(el, t, "chunk", nChunks, col("e"))
      }
      val (acc, nSeen) = kmvMapFoldRun(spark, tmp, el.schema,
        perTrigger, "d", 256)
      requireBatches(nSeen)
      // stable result frame once staging is released: one row per day
      Fs.materialize(Sketches.windowDistinctWith(ev,
        acc.map { case (d, arr) => d.toLong -> arr }), acc.size.toLong)
    }

  /** STREAMING entity resolution: the dirty feed arrives as a file stream
    * and every micro-batch is resolved against the STATIC clean base with
    * the batch operator (EntityResolution.resolveFeed) — the
    * continuously-arriving record-linkage shape (CRM ingest, log-to-master
    * matching). Each record's verdict depends only on its own row plus the
    * static clean side, so the assembled result is chunking/arrival-order
    * invariant and EQUALS batch join_entity_resolution; the query shares
    * its DuckDB oracle verbatim. No keyed or driver state at all: per-batch
    * writes are idempotent (one overwritten bid= dir per batchId), so
    * at-least-once replays are no-ops and restart needs only the engine
    * checkpoint. At scale the clean blocking index is the static side of a
    * stream-static equi-join with constant-bounded (≤10³) key groups.
    */
  def streamEntityResolution(outer: SparkSession, dir: String): DataFrame =
    withStreamingPartitions(outer, fullParallelism(outer)) { spark =>
      import graft.ops.EntityResolution
      val customer = spark.read.parquet(s"$dir/customer.parquet")
      val base = EntityResolution.cleanBase(customer).persist()
      val dirty = EntityResolution.dirtyFeed(base)
      // The static blocking index (12 exploded rows per customer) is the
      // BUILD side of every micro-batch's candidate join: materialize it
      // ONCE, hash-partitioned on the join key, instead of re-exploding
      // and re-shuffling 12×|customer| rows per batch (r9 VERDICT #4 —
      // the Fs.materializeTrackedKeyed discipline). Small corpora localCheckpoint
      // a pre-partitioned frame; past the threshold it becomes a bucketed
      // external table whose scan reports HashPartitioning, so per-batch
      // joins read buckets in place and only the batch side moves.
      val nCust = Fs.rowCount(customer)
      val keyedParts = math.max(fullParallelism(outer).toLong,
        math.min(512L, nCust * 12L / 2000000L)).toInt
      // Only worth staging past the bucketed-table threshold: at base
      // scale the per-batch re-explode of a persisted 1.5e5-row base is
      // cheaper than any up-front materialization (+0.5 s measured at
      // sf0.1), while at decade 4 the sorted bucketed table is −20%
      // (324 → 260 s — see SCALESWEEP_1000x_r10).
      val blockedTracked =
        if (nCust * 12L >= Fs.BigRows)
          Some(Fs.materializeTrackedKeyed(
            EntityResolution.blockedBase(base),
            keyedParts, Seq("kid", "bkey"), rowsHint = nCust * 12L))
        else None
      val blocked = blockedTracked.map(_.df)
        .getOrElse(EntityResolution.blockedBase(base))
      // verdicts are chunking-independent, so staging parallelism is free
      // (the stageParts discipline): ~250k dirty rows per file
      val (nChunks, _) = rowChunks(Fs.rowCount(dirty))
      val tmp = stagedCorpus(dir, "erdirty") { t =>
        stageParts(dirty, t, "chunk", nChunks, col("dirty_id"))
      }
      val work = java.nio.file.Files.createTempDirectory("graft_er_stream")
      requireBatches(runBatchDirs(
        fileStream(spark, dirty.schema, tmp.toString, math.max(1, nChunks / 3)),
        "er", checkpoint = None)(
        work -> (EntityResolution.resolveFeedBlocked(_, blocked))).size)
      // materialize before the work dir goes away
      val out = spark.read.parquet(work.toString)
        .drop("bid")
        .orderBy(col("dirty_id"))
        .transform(df => Fs.materialize(df, Fs.footerRows(df).getOrElse(0L)))
      base.unpersist()
      blockedTracked.foreach(_.free())
      Fs.deleteRecursively(work)
      out
    }
}
