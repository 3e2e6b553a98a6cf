package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the 100 TB safety properties of the heavy-query plans: no
  * accidental cartesian/nested-loop joins, and the shuffle count each
  * query's scale story depends on. A regression that turns a banded LSH
  * into an all-pairs join, or splits a fused scan, fails HERE — not at
  * cluster scale.
  */
class PlanInvariantsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def exchanges(p: String): Seq[String] =
    p.linesIterator.filter(l => l.contains("Exchange") && !l.contains("ReusedExchange")).toSeq

  private def countExchanges(p: String): Int = exchanges(p).length

  // Every O(N²)-capable operator the optimizer could silently fall back to.
  private val forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

  test("candidate-generation queries never degrade to all-pairs joins") {
    for (name <- Seq("dedup_minhash_lsh", "dedup_simhash",
        "dedup_simhash_blocked", "sim_semdedup_bucketed",
        "dedup_embedding_cosine", "dedup_ngram_jaccard", "sim_knn_graph",
        "join_range_events_windows", "join_asof_click_error",
        "join_fuzzy_quote", "dedup_jaccard_prefix",
        "join_scd2_pointintime", "join_entity_resolution")) {
      val p = plan(name)
      forbidden.foreach(op =>
        assert(!p.contains(op), s"$name plan contains $op:\n${p.take(1200)}"))
    }
  }

  test("r6 session-3 operators stay equi-join only (streaks, stats, dedup, graph)") {
    for (name <- Seq("graph_node_jaccard", "text_boilerplate_strip",
        "text_url_canonicalize", "window_streaks", "layout_column_stats",
        "sketch_window_distinct", "ts_changepoint_cusum",
        "ts_backtest_snaive", "ts_autocorrelation")) {
      val p = plan(name)
      forbidden.foreach(op =>
        assert(!p.contains(op), s"$name plan contains $op:\n${p.take(1200)}"))
    }
  }

  test("hybrid rrf truncates both lists with distributed TakeOrdered, join-free fusion") {
    val p = plan("sim_hybrid_rrf")
    // both top-100 lists must be TakeOrdered (per-shard heads + driver
    // merge), never a full Sort feeding a Limit
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    // fusion is a union + 200-row groupBy — no join of any kind
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("ShuffledHashJoin"), p.take(1500))
  }

  test("range agg sweep: pair-free — no join on the fact side, bucket prefix broadcast") {
    val p = plan("join_range_agg")
    forbidden.foreach(op =>
      assert(!p.contains(op), s"join_range_agg plan contains $op:\n${p.take(1200)}"))
    // the only join is the boundary-rows × bucket-prefix equi-join, and the
    // corpus-small prefix frame must arrive broadcast, never shuffled
    assert(p.linesIterator.count(_.contains("Join")) == 1,
      s"expected exactly one (broadcast) join:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), s"bucket prefix not broadcast:\n${p.take(1500)}")
    // no SortMergeJoin means the point×interval pair set is never formed
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("bigram LM: map-combined training, key-equi scoring join, never all-pairs") {
    val p = plan("text_bigram_lm")
    forbidden.foreach(op =>
      assert(!p.contains(op), s"text_bigram_lm plan contains $op:\n${p.take(1200)}"))
    assert(p.contains("partial_"),
      s"bigram training must map-side combine:\n${p.take(1200)}")
  }

  test("fused single-scan pipeline has no exchange before the final sort") {
    val p = plan("text_pipeline_fused")
    assert(countExchanges(p) == 1, s"expected only the sort exchange:\n$p")
    assert(p.contains("Scan parquet"), p.take(300))
  }

  test("pii scrub is a pure projection: one scan, no exchange before the sort") {
    val p = plan("text_pii_scrub")
    assert(countExchanges(p) == 1, s"expected only the sort exchange:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p.take(600))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"projection not pruned to (doc_id, text): $readSchema")
  }

  test("mixture weights: one map-combined agg shuffle, windows over the post-agg frame") {
    val p = plan("pipeline_mix_weights")
    // lang agg exchange + the single-partition window exchange + output sort
    assert(countExchanges(p) <= 3, s"mix weights shuffles too much:\n$p")
    assert(p.contains("partial_"), s"must map-side combine:\n${p.take(800)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      "the corpus must be scanned exactly once")
  }

  test("algebraic aggregates shuffle exactly once plus the output sort") {
    for (name <- Seq("agg_stats_moments", "a8_group_agg")) {
      val p = plan(name)
      // one partial->final agg exchange + one range exchange for ORDER BY
      assert(countExchanges(p) <= 2, s"$name shuffles too much:\n$p")
      assert(p.contains("partial_"), s"$name must map-side combine:\n${p.take(800)}")
    }
  }

  test("graph queries never degrade to all-pairs joins; zorder dims broadcast") {
    val pr = plan("graph_pagerank")
    forbidden.foreach(op =>
      assert(!pr.contains(op), s"graph_pagerank plan contains $op:\n${pr.take(1200)}"))
    // triangles: the only nested-loop allowed is the broadcast 1-row scalar
    // attach (total/doulion), same sanctioned shape as sim_cosine_brute
    val tr = plan("graph_triangles")
    assert(!tr.contains("CartesianProduct"), tr.take(1200))
    assert(tr.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"unexpected nested-loop joins:\n${tr.take(1200)}")
    // the zone-map probe joins must broadcast the 64-row zone maps, and the
    // max-scalar crossJoin must be a broadcast, never a shuffled cartesian
    val z = plan("layout_zorder")
    assert(!z.contains("CartesianProduct"), z.take(1200))
    assert(z.contains("BroadcastExchange") || z.contains("ReusedExchange"),
      s"zone maps not broadcast:\n${z.take(1200)}")
  }

  test("keyed localCheckpoint materialization carries its hash partitioning") {
    // r11: on Spark 4.1 + AQE, repartition(n, k).localCheckpoint() comes
    // back as UnknownPartitioning — every loop consumer then re-shuffles
    // the frame the keyed materialize exists to co-locate (graph_pagerank
    // measured a full edge-frame exchange per round). The Bridge
    // re-declares the layout on the LogicalRDD leaf; this fence pins both
    // the declaration and that Catalyst actually plans around it.
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
    val m = graft.util.Fs.materializeTrackedKeyed(df, 4, Seq("k"), rowsHint = 10L)
    try {
      // toString omits the scan's partitioning — read it off the leaf node
      val scan = m.df.queryExecution.executedPlan.collectLeaves().head
      assert(scan.outputPartitioning.toString.contains("hashpartitioning(k"),
        s"checkpointed scan lost its declared partitioning: ${scan.outputPartitioning}")
      val agg = m.df.groupBy("k").count()
      assert(countExchanges(agg.queryExecution.executedPlan.toString) == 0,
        "groupBy on the materialization key must add no exchange")
      val j = m.df.join(m.df.select(col("k"), col("v").as("v2")), "k")
      val jp = j.queryExecution.executedPlan.toString
      assert(countExchanges(jp) == 0,
        "self-equi-join on the key must be exchange-free")
      // the sorted declaration (sortWithinPartitions at write time) must
      // also absorb the SMJ's per-consumer sort of this side
      assert(!jp.contains("Sort "),
        s"key join must be sort-free over the sorted checkpoint:\n$jp")
    } finally m.free()
  }

  test("manySeries: one exchange per input at the session's width, never coalesced") {
    // the kernel stage's width is fixed at the operator (repartition by
    // series_id), and the cogroup reuses that partitioning instead of
    // planning a second exchange; collect() runs the dataset's own plan,
    // so the adaptive plan below is AQE's final one
    import graft.disagg.Disaggregate
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val (low, high) = Fixtures.keyedFrames(spark, Fixtures.keyedSeries(100))
    for ((params, h) <- Fixtures.manySeriesCases(high)) {
      val out = Disaggregate.manySeries(low, h, params = params)
      assert(out.collect().nonEmpty)
      val p = out.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
      val ex = exchanges(p)
      assert(ex.length == 2, s"${params.method}: expected one exchange per input:\n$p")
      assert(ex.forall(l => l.contains("hashpartitioning(series_id#") && l.contains(s", $width)")),
        s"${params.method}: exchanges not at width $width by series_id:\n$p")
      assert(!p.contains("coalesced"), s"${params.method}: AQE coalesced the kernel stage:\n$p")
    }
  }

  test("compaction planner: manifest-sized window, single lineitem scan") {
    val p = plan("layout_compaction_plan")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      "planner must scan the table exactly once to build the manifest")
    // file-build agg + per-month window partition + final sort
    assert(countExchanges(p) <= 3, s"compaction plan shuffles too much:\n$p")
    assert(p.contains("partial_"), s"file build must map-side combine:\n${p.take(800)}")
  }

  test("skew profiler and incremental agg map-side combine their histograms") {
    for (name <- Seq("diag_skew_profile", "pipeline_incremental_agg")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name must map-side combine:\n${p.take(800)}")
      forbidden.foreach(op => assert(!p.contains(op), s"$name contains $op"))
    }
  }

  test("pq family scoring is literal-LUT projection: no join, no corpus shuffle") {
    for (name <- Seq("embed_pq", "sim_pq_adc", "sim_ivfpq")) {
      val p = plan(name)
      forbidden.foreach(op => assert(!p.contains(op), s"$name contains $op"))
      assert(!p.contains("SortMergeJoin"),
        s"$name scoring must not join the corpus:\n${p.take(1000)}")
    }
  }

  test("pretraining pipeline composite stays at its 3 planned shuffles") {
    // digest dedup + lang agg + output sort; a 4th exchange means the
    // composition started re-materializing
    val p = plan("pipeline_pretraining_filter")
    assert(countExchanges(p) <= 3, s"unexpected extra shuffle:\n$p")
  }

  test("star-schema dims stay broadcast; the fact side never shuffles for the join") {
    val p = plan("join_star_pricing")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both dims must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"),
      s"fact-side shuffle join crept in:\n${p.take(1200)}")
  }

  test("broadcast side of the brute-force similarity stays broadcast") {
    val p = plan("sim_cosine_brute")
    assert(p.contains("BroadcastExchange") || p.contains("TakeOrdered"),
      s"expected broadcast query vector / TakeOrdered top-k:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("connected-components label view joins hash-to-hash, never all-pairs") {
    val p = plan("dedup_clusters")
    forbidden.foreach(op =>
      assert(!p.contains(op), s"dedup_clusters plan contains $op:\n${p.take(1200)}"))
  }

  test("forward fill windows are partitioned per series (no global sort fill)") {
    val p = plan("fill_forward")
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, p.take(800))
    // a Window with an empty partition spec would single-thread the fill
    windowLines.foreach(l =>
      assert(l.contains("series"), s"window not partitioned by series: $l"))
  }

  test("deterministic split is a pure projection: no shuffle before the output sort") {
    val p = plan("sample_split_deterministic")
    assert(countExchanges(p) <= 1, s"split must not shuffle:\n$p")
  }

  test("heavy-hitters exact audit side map-side combines") {
    val p = plan("sketch_heavy_hitters")
    assert(p.contains("partial_"), s"token count must partial-aggregate:\n${p.take(800)}")
  }

  test("decontamination broadcasts the eval shingles; train side never sort-merges") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized shingle shuffle crept in:\n${p.take(1200)}")
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
  }

  test("doc packing windows are partitioned per lang (no global total order)") {
    val p = plan("pipeline_pack_docs")
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, p.take(800))
    windowLines.foreach(l =>
      assert(l.contains("lang"), s"window not partitioned by lang: $l"))
  }

  test("stratified sample and repetition signals are pure projections") {
    for (name <- Seq("pipeline_stratified_sample", "text_repetition")) {
      val p = plan(name)
      assert(countExchanges(p) <= 1,
        s"$name must not shuffle before the output sort:\n$p")
    }
  }

  test("semdedup pair stage equi-joins on the block key, never all-pairs") {
    val p = plan("sim_semdedup")
    forbidden.foreach(op =>
      assert(!p.contains(op), s"sim_semdedup plan contains $op:\n${p.take(1200)}"))
    assert(p.contains("partial_min"),
      s"witness search must partial-aggregate map-side:\n${p.take(1200)}")
  }

  test("tfidf DF table broadcasts back onto TF (vocabulary-sized, never a corpus shuffle join)") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"df join must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized shuffle join crept in:\n${p.take(1200)}")
  }

  test("histogram is one partial-aggregating shuffle over |buckets| keys") {
    val p = plan("agg_histogram")
    assert(countExchanges(p) <= 2, s"histogram shuffles too much:\n$p")
    assert(p.contains("partial_"), s"must map-side combine:\n${p.take(800)}")
  }

  test("full e2e pipeline: loser/contaminated sets broadcast back, never all-pairs") {
    val p = plan("pipeline_full_e2e")
    forbidden.foreach(op =>
      assert(!p.contains(op), s"pipeline_full_e2e plan contains $op:\n${p.take(1200)}"))
    assert(p.contains("BroadcastHashJoin"),
      s"anti-joins must broadcast the small drop sets:\n${p.take(1200)}")
  }

  test("ewma: one map-combined event shuffle; window runs on the groups-sized daily frame") {
    val p = plan("window_ewma")
    assert(p.contains("partial_"), s"daily totals must map-side combine:\n${p.take(800)}")
    assert(countExchanges(p) <= 3, s"expected agg + window + sort exchanges only:\n$p")
  }

  test("centroid outliers never shuffle the corpus: literal-centroid argmax + TakeOrdered") {
    // training collects its bounded sample eagerly; the RETURNED plan is a
    // pure scan + projection whose only ordering step is the global top-N
    val p = plan("sim_outlier_centroid")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffle crept into the outlier scan:\n${p.take(1500)}")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n${p.take(800)}")
    assert(p.contains("TakeOrdered"), s"top-N must be TakeOrdered:\n${p.take(800)}")
  }

  test("ridge scoring is a broadcast-literal projection: no shuffle, no join") {
    // training is ONE separate agg job; the returned scoring plan streams
    val p = plan("pipeline_quality_ridge")
    assert(!p.contains("Exchange hashpartitioning"),
      s"scoring must not shuffle the corpus:\n${p.take(1500)}")
    assert(!p.contains("Join"), s"no join belongs in scoring:\n${p.take(800)}")
    assert(p.contains("TakeOrdered"), s"top-N must be TakeOrdered:\n${p.take(800)}")
  }

  test("snapshot diff: fingerprints at scan, ONE corpus join, window totals") {
    val p = plan("pipeline_dataset_diff")
    forbidden.foreach(op =>
      assert(!p.contains(op), s"pipeline_dataset_diff plan contains $op:\n${p.take(1200)}"))
    // per-status totals come from a delta-sized window, not a groupBy +
    // self-join that would execute the fingerprint join twice per action
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"the full-outer fingerprint join must appear exactly once:\n${p.take(1500)}")
    assert(p.contains("Window"), s"totals must be a window count:\n${p.take(800)}")
  }

  test("IVF query plan never shuffles the corpus: assignment is a map-side argmax") {
    // trainCentroids' iteration jobs run eagerly (bounded sample); the
    // RETURNED plan — full-corpus assignment + probe join + top-k — must be
    // scan + projection + broadcast join + TakeOrdered, with no
    // hash-partitioned exchange of embedding rows anywhere
    val p = plan("sim_cosine_ivf")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffle crept into the IVF serving path:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("int8 quantization is a pure projection: no shuffle before the output sort") {
    val p = plan("embed_quantize_int8")
    assert(countExchanges(p) <= 1, s"quantization must not shuffle:\n$p")
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
  }

  test("gopher rules are a pure projection: one pruned scan, only the sort exchange") {
    val p = plan("text_gopher_rules")
    assert(countExchanges(p) <= 1, s"gopher rules must not shuffle:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p.take(600))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"projection not pruned to (doc_id, text): $readSchema")
  }

  test("random projection is a pure map: literal sign matrix, no join, no shuffle") {
    val p = plan("embed_random_projection")
    assert(countExchanges(p) <= 1, s"SRP must not shuffle:\n$p")
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
    assert(!p.contains("Join"), s"the sign matrix must ride as literals:\n$p")
  }

  test("novelty inverted index joins hash-to-hash and map-side combines") {
    val p = plan("text_novelty")
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
    assert(p.contains("partial"),
      s"doc-frequency agg must map-side combine:\n${p.take(800)}")
    // explode pairs + df agg + join-side re-shuffle + per-doc agg + sort
    assert(countExchanges(p) <= 5, s"novelty shuffles too much:\n$p")
  }

  test("quantile sketch shuffles O(k) partial samples; exact side only grades it") {
    val p = plan("sketch_quantile_bottomk")
    assert(p.contains("partial"),
      s"bottom-k agg must partial-aggregate map-side:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("interval overlap join stays bin-equi, never a nested-loop theta join") {
    val p = plan("join_interval_overlap")
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
  }

  test("bidirectional asof join pays one shuffle: both frames share the sort") {
    val p = plan("join_asof_nearest")
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
    // one key exchange feeding both window frames + the output sort, plus
    // the r5-ADVICE tie-break pre-reduce on the right side (one row per
    // (user_id, ts) — a map-side-combinable partial agg, so its exchange
    // carries already-reduced rows; the determinism is worth the shuffle)
    assert(countExchanges(p) <= 3, s"asof directions must share the sort:\n$p")
    assert(p.contains("partial"),
      s"tie-break pre-reduce must map-side combine:\n${p.take(800)}")
  }

  test("dataset card: both aggregates map-side combine, no all-pairs joins") {
    val p = plan("pipeline_dataset_card")
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
    assert(p.contains("partial"),
      s"card aggregates must map-side combine:\n${p.take(800)}")
  }

  test("kmv sketch shuffles carry partial arrays, never the distinct-value set") {
    val p = plan("sketch_kmv_distinct")
    // shingle->kmv agg + exact-distinct agg + join + output sort
    forbidden.foreach(op => assert(!p.contains(op), s"plan contains $op"))
    assert(p.contains("partial"), s"KMV must partial-aggregate map-side:\n${p.take(800)}")
  }

  test("AQE splits skewed join partitions at runtime (the hot-key safety net)") {
    // At 100 TB a single hot join key (one viral document, one degenerate
    // hash bucket) turns a shuffle join into one straggler task. AQE's
    // skew-join split is the runtime fix; this pins that our session
    // config actually triggers it on a 1000:1 skewed key.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{when, lit, concat}
    val prev = Map(
      "spark.sql.adaptive.enabled" -> s.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> s.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        s.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        s.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"))
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // thresholds scaled DOWN to test size so the 1000:1 key trips the same
    // detector a 256 MB default trips in production
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      val left = s.range(0, 20000)
        .select(when($"id" < 19000, lit(7L)).otherwise($"id").as("k"),
          concat(lit("payload_payload_payload_"), $"id").as("pl"))
      val right = s.range(0, 200).select($"id".as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // execute THROUGH this QueryExecution — collect() runs the dataset's
      // own plan (count()/write() build a separate one), so executedPlan
      // below is the AQE FINAL plan with runtime skew annotations
      assert(joined.collect().length == 19000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected AQE skew-join split in final plan:\n${p.take(1500)}")
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("layout_bucketed_join: zero-exchange sort-merge join, vs >=2 unbucketed") {
    import org.apache.spark.sql.functions.col
    // the registered operator's bare join (before the rollup the oracle
    // hashes): scan bucketing satisfies the SMJ distribution on BOTH sides
    val bare = graft.ops.TableLayout.bucketedJoin(spark, dir)
    val p = bare.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(900))
    assert(countExchanges(p) == 0,
      s"bucketed join must not shuffle either fact side:\n${p.take(1500)}")
    // the identical join without the layout: both sides pay an Exchange
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plain = s2.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(s2.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
    assert(countExchanges(plain.queryExecution.executedPlan.toString) >= 2,
      "unbucketed control should shuffle both sides")
  }

  test("scan_partition_pruning: 3-day window plans exactly 3 of 30 partitions") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.DateType
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = graft.ops.TableLayout.partitionedEvents(spark, dir)
    def selected(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }
        .head.selectedPartitions.partitionCount
    val pruned = spark.read.parquet(path).where(col("event_date").between(
      lit("2024-01-10").cast(DateType), lit("2024-01-12").cast(DateType)))
    assert(selected(pruned) == 3,
      "planner must list only the 3 matching date directories")
    assert(selected(spark.read.parquet(path)) == 30,
      "control: the unfiltered scan sees the full 30-day corpus")
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // The 1000-executor co-location story: both sides bucketed on the join
    // key at write time -> SortMergeJoin consumes the bucketing directly,
    // zero Exchange in the plan. This is the layout a 100 TB fact-fact
    // join (e.g. lineitem x orders) ships with.
    val s = spark
    import s.implicits._
    val orders = s.read.parquet(s"${this.dir}/orders.parquet")
      .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
    val lineitem = s.read.parquet(s"${this.dir}/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity")
    // at 100 TB neither fact side broadcasts — force the large-join planner
    // so the test exercises the layout the bucketing exists for (restored
    // below: the session is shared across suites)
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("bkt_orders")
      lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("bkt_lineitem")
      val joined = s.table("bkt_lineitem")
        .join(s.table("bkt_orders"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey").agg(org.apache.spark.sql.functions.sum($"l_quantity"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${p.take(1500)}")
      assert(joined.count() > 0)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS bkt_orders")
      s.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }

  test("keyed big-branch materialization: merge joins read buckets in place, pre-sorted (r10)") {
    import graft.util.Fs
    // the r10 sortBy addition: the bucketed scratch table reports BOTH
    // HashPartitioning(keys, parts) and per-bucket sort order, so a
    // sort-merge join on the keys pays neither an Exchange nor a Sort on
    // the materialized side — the property the decade-4 stream-static ER
    // join (324 -> 262 s) and the iterative big-branch loops depend on
    val df = spark.range(1000).selectExpr("id AS k", "id * 3 AS v")
    val keyed = Fs.materializeTrackedKeyed(df, parts = 4, keys = Seq("k"),
      rowsHint = 1000, bigRows = 1)
    try {
      val probe = spark.range(100).selectExpr("id AS k", "id AS w")
      val joined = keyed.df.hint("merge").join(probe, "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1200))
      assert(countExchanges(p) == 1,
        s"bucketed side must not re-exchange (probe side pays the one):\n${p.take(1500)}")
      val sorts = p.linesIterator
        .count(l => l.contains(" Sort [") && !l.contains("SortMergeJoin"))
      assert(sorts == 1,
        s"bucketed side must come back pre-sorted (probe side pays the one):\n${p.take(1500)}")
      assert(joined.count() == 100)
    } finally keyed.free()
  }

  test("sticky bucketed-scan ordering flag is fenced: only graft scratch tables are bucketed (r10 VERDICT #3)") {
    import graft.util.Fs
    // materializeTrackedKeyed's big branch sets
    // spark.sql.legacy.bucketedTableScan.outputOrdering sticky on the
    // session — the sanctioned exception to the conf-scoped-child rule
    // (the conf must be live wherever the returned frame is consumed).
    // That is safe exactly while every bucketed table the session can
    // plan over is a graft-written scratch table: repartition-first, one
    // sorted file per bucket (Spark re-verifies the one-file condition,
    // so even a violation is correctness-safe — but it would silently add
    // planning-time file listing to a user's own bucketed tables). This
    // pins the fence: exercise BOTH registrars of bucketed tables in
    // main (Fs big branch, TableLayout.bucketedPair), then assert every
    // bucketed table in the catalog carries the graft_ scratch prefix.
    val df = spark.range(100).selectExpr("id AS k", "id AS v")
    val keyed = Fs.materializeTrackedKeyed(df, parts = 2, keys = Seq("k"),
      rowsHint = 100, bigRows = 1)
    try {
      graft.ops.TableLayout.bucketedPair(spark, dir)
      assert(spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
      val catalog = spark.sessionState.catalog
      val bucketed = catalog.listTables("default").filter { ident =>
        try catalog.getTableMetadata(ident).bucketSpec.isDefined
        catch { case _: Throwable => false }
      }
      assert(bucketed.nonEmpty, "the two registrars above must be visible")
      val offenders = bucketed.map(_.table).filterNot(_.startsWith("graft_"))
      assert(offenders.isEmpty,
        s"non-scratch bucketed tables under the sticky ordering flag: $offenders")
    } finally keyed.free()
  }

  test("ann family: native SRP/argmax in the plan, zero interpreted HOF folds (r11)") {
    // the r11 rework replaced the 16-column aggregate(zip_with(...)) SRP
    // stack and the transform(typedLit(cents)) argmax with one native
    // expression each; a regression back to the HOF forms re-pays the
    // interpreted per-element dispatch AND the ~10^3-node tree per
    // execution (row-count-independent) -- it fails HERE, not in a bench
    for (name <- Seq("sim_semdedup_bucketed", "sim_knn_graph_bucketed",
        "embed_pq", "sim_ivfpq", "embed_random_projection")) {
      val p = plan(name).toLowerCase
      assert(!p.contains("aggregate(zip_with"),
        s"$name plan regressed to an interpreted HOF fold")
    }
    assert(plan("sim_semdedup_bucketed").toLowerCase.contains("srppackedbits"),
      "semdedup lost the native SRP-bits expression")
    assert(plan("embed_pq").toLowerCase.contains("argmaxcosine"),
      "pq encoding lost the native argmax expression")
  }

  test("custom expressions generate code: projections stay in WholeStageCodegen (r12)") {
    // r11 VERDICT #8 (generalized): every graft expression was
    // CodegenFallback, and ONE fallback marker in a Project's expression
    // list drops the WHOLE stage out of WholeStageCodegen — the fused
    // single-scan queries mixing these with dozens of built-ins were
    // silently running interpreted projections. Each expression now
    // implements doGenCode (one call into its compiled compute method);
    // this pins the property: a projection using ALL of them plans as a
    // `*(n)` codegen stage. Value equality is pinned by the 243-test /
    // 193-oracle surface, which executes the same generated paths.
    import org.apache.spark.sql.functions._
    import graft.functions.{HashOps, VectorOps}
    val df = spark.range(4).selectExpr(
        "id", "concat('doc text number ', id, ' with words') AS text",
        "array(cast(id as double), 1.5d) AS v")
      .select(col("id"),
        HashOps.md5Low64(col("text")).as("h"),
        HashOps.simhash(HashOps.md5TokensLow64(split(col("text"), " "))).as("sh"),
        HashOps.rollingPolyHash(col("text")).as("rp"),
        HashOps.ngramShingles(col("text"), 2).as("ng"),
        HashOps.minhashSig(
          HashOps.md5TokensLow64(split(col("text"), " ")), 4).as("mh"),
        VectorOps.srpPackedBits(col("v"), IndexedSeq(Seq(1.0, -1.0)), 1).as("srp"),
        VectorOps.argmaxCosine(col("v"), Seq((0L, Seq(1.0, 0.0)))).as("am"),
        VectorOps.signProjectionBands(col("v"), 2, 4).as("bands"),
        VectorOps.dot(col("v"), col("v")).as("dot"),
        VectorOps.squaredNorm(col("v")).as("ssq"),
        graft.ops.TextOps.langIdFeatures(col("text")).as("lang"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"),
      s"custom-expression projection fell out of WholeStageCodegen:\n$p")
    assert(df.collect().length == 4)
  }

  /** src/main code by path relative to src/main/scala, with // and /* */
    * comments removed; string and char literals are matched first and
    * kept, so a "//" inside one is not taken for a comment (Bridge.scala's
    * scaladoc names localCheckpoint).
    */
  private lazy val mainSources: Map[String, String] = {
    val token = ("(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\])'" +
      "|/\\*.*?\\*/|//[^\\n]*").r
    def code(src: String): String = token.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) ""
      else scala.util.matching.Regex.quoteReplacement(m.matched))
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
        root.relativize(f).toString -> code(java.nio.file.Files.readString(f))
      }.toMap
    } finally walk.close()
  }

  private def occurrences(needle: String): Int =
    mainSources.values.map(java.util.regex.Pattern.quote(needle).r.findAllMatchIn(_).size).sum

  test("one materialization rule: localCheckpoint and parquet footer reads only in util/Fs.scala") {
    for (needle <- Seq(".localCheckpoint(", "ParquetFileReader"))
      assert(mainSources.filter(_._2.contains(needle)).keySet == Set("graft/util/Fs.scala"),
        s"$needle outside graft.util.Fs: route it through Fs.materialize / Fs.footerRows")
  }

  test("one row-count rule: sizing counts go through Fs.rowCount, with no count cache") {
    // a footer read with a count() fallback is Fs.rowCount written by hand,
    // and a per-table count cache hides the count job from every run after
    // the first
    val handCount = """getOrElse\(\s*[\w.()]*\.count\(\)\s*\)""".r
    val countCache = """ConcurrentHashMap\[[^\]]*,\s*(?:java\.lang\.)?Long\]""".r
    for ((what, re) <- Seq("getOrElse(….count())" -> handCount, "a count cache" -> countCache)) {
      val hits = mainSources.filter(f => re.findFirstIn(f._2).isDefined).keySet
      assert(hits.isEmpty, s"$what in $hits: size work with graft.util.Fs.rowCount")
    }
    assert(occurrences("rowCountCache") == 0, "a per-table row-count cache")
  }

  test("one native-expression shape: no hand-written type checks, one MD5 low-64 digest") {
    // graft's Catalyst expressions type-check through ExpectsInputTypes and
    // generate code through graft.functions.NativeUnary (SrpPackedBits keeps
    // its own length-checked call); every DuckDB md5_number_lower hash goes
    // through HashOps.md5Low64Bytes and its one thread-local digest
    assert(occurrences("checkInputDataTypes") == 0,
      "a hand-written checkInputDataTypes: declare inputTypes (ExpectsInputTypes)")
    assert(occurrences("addReferenceObj") <= 2,
      "an expression with its own codegen call: extend graft.functions.NativeUnary")
    assert(occurrences("ThreadLocal.withInitial[java.security.MessageDigest]") == 1,
      "a second MD5 digest: hash through graft.functions.HashOps.md5Low64Bytes")
  }

  test("one query table: 193 distinct names, each with a non-empty oracle") {
    val names = Queries.table.map(_.name)
    assert(names.size == 193, s"${names.size} registered queries")
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"names registered twice: $twice")
    assert(Queries.table.forall(_.oracle.trim.nonEmpty),
      s"empty oracles: ${Queries.table.filter(_.oracle.trim.isEmpty).map(_.name)}")
    assert(SqlQueries.sql.keySet.subsetOf(names.toSet),
      s"Spark-SQL texts for unregistered names: ${SqlQueries.sql.keySet -- names}")
    assert(Queries.rawDisagg.keySet.subsetOf(names.toSet),
      s"raw disagg dumps for unregistered names: ${Queries.rawDisagg.keySet -- names}")
  }

  test("one query table: no query name is registered through a map literal") {
    // `"<name>" -> …` in src/main code: only rawDisagg's raw-series rows
    // and SqlQueries' Spark-SQL texts, each name once; the plan and the
    // oracle of a query live on its one Queries.table row
    val names = Queries.table.map(_.name).toSet
    val arrow = "\"([a-z0-9_]+)\"\\s*->".r
    val hits = mainSources.toSeq.flatMap { case (file, code) =>
      arrow.findAllMatchIn(code).map(_.group(1)).filter(names).map(file -> _)
    }
    def in(file: String) = hits.collect { case (`file`, n) => n }.sorted
    assert(hits.map(_._1).toSet.subsetOf(Set("graft/Queries.scala", "graft/SqlQueries.scala")),
      s"query names as map keys outside Queries/SqlQueries: $hits")
    assert(in("graft/Queries.scala") == Queries.rawDisagg.keys.toSeq.sorted,
      "a query registered through a map literal: add one Queries.table row instead")
    assert(in("graft/SqlQueries.scala") == SqlQueries.sql.keys.toSeq.sorted)
  }

  test("QUERIES.md: every registered query has its own description") {
    val row = """^\| `([a-z0-9_]+)` \| (.*) \| DuckDB value-exact \| .* \|$""".r
    val rows = QueryIndex.generate(".").linesIterator.collect {
      case row(name, doc) => name -> doc
    }.toSeq
    assert(rows.map(_._1) == Queries.table.map(_.name).sorted)
    assert(rows.size == 193)
    val undocumented = rows.collect { case (name, "—") => name }
    assert(undocumented.isEmpty, s"queries without a scaladoc: $undocumented")
  }
}
