package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>), Spark-first:
  *
  *  - [[cosine]] is a pure codegen'd expression (zip_with product +
  *    aggregate fold — deterministic left-to-right summation, no UDF);
  *  - [[bruteForceTopK]] broadcasts the query vector inside the plan and is
  *    a single scan + TakeOrderedAndProject — the exact baseline;
  *  - [[ivfTopK]] is the scale path: vectors are pre-assigned to centroid
  *    buckets (one narrow scan; assignment is itself a broadcast join
  *    against the tiny centroid table), the query probes the closest
  *    `nProbe` buckets, and only those partitions are scanned. At 100 TB
  *    the bucket column is a partition key and pruning makes the probe
  *    touch ~nProbe/nBuckets of the data.
  *
  * Centroids come from a deterministic Lloyd's k-means pass
  * ([[trainCentroids]]: lowest-vec_id init, broadcast assignment, shuffle of
  * (bucket, dim, partial-mean) triples only — no RNG, no vector shuffle).
  */
/** One rung of [[Similarity.ivfRecallSweep]]'s tuning curve (top-level
  * public per the Dataset-encoder rule).
  */
case class IvfRecallRow(
    n_probe: Long, n_candidates: Long, n_hits: Long, recall: Double)

object Similarity {

  /** array<float> -> array<double>, the working type for all math. */
  def asDouble(v: Column): Column = transform(v, x => x.cast(DoubleType))

  /** Cosine via the native codegen'd expressions (graft.functions.VectorOps)
    * — bit-equal to the HOF `aggregate(zip_with(...))` fold (left-to-right
    * summation) but inside WholeStageCodegen instead of interpreted lambdas.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosine(a, b)

  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Exact top-k by cosine against the vector with id `queryId`. */
  def bruteForceTopK(
      embeddings: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = prepared(embeddings)
    val q = e.where(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic Lloyd's k-means over the embedding column: ONE
    * distributed TakeOrdered picks the bounded hash-ordered sample, the
    * Lloyd loop itself runs driver-side over the collected sample
    * ([[lloydDriver]] — O(sampleCap·k·dim) flops on ~8 MB, where the
    * former per-iteration Spark jobs were pure scheduling constant).
    * Initialization is the lowest `k` sample vec_ids (deterministic, no
    * RNG at runtime); empty clusters keep their previous centroid.
    * Returns (bucket, cv).
    *
    * Every floating-point step is CROSS-ENGINE deterministic, so the whole
    * training run replays bit-exactly in ANSI SQL (the sim_cosine_ivf
    * oracle): the sample is the lowest `sampleCap` ids by graft_md5_low64
    * (== DuckDB md5_number_lower reinterpreted signed); assignment argmax
    * uses the left-fold cosine (bit-equal to list_sum(list_transform(...)));
    * and the centroid mean folds each (bucket, dim) group's values in
    * vec_id order — an explicit sorted left-to-right sum, not an
    * order-dependent distributed avg().
    *
    * At 100 TB this is the standard scale shape: centroids stay a broadcast
    * table, training touches ONE TakeOrdered over a narrow (id, vector)
    * scan, and everything after that is O(sampleCap · k · dim) driver work
    * regardless of corpus size.
    */
  def trainCentroids(
      embeddings: DataFrame, nBuckets: Int = 16, iterations: Int = 3,
      sampleCap: Int = 16384): DataFrame = {
    val spark = embeddings.sparkSession
    // bounded deterministic training sample: hash-ordered take — a
    // per-partition TakeOrdered heap over a narrow (id, vector) scan, so
    // training cost is O(sampleCap) regardless of corpus size (training on
    // the full 100 TB corpus every query would be the anti-pattern; k-means
    // on a uniform sample is the standard scale recipe). ONE collect of the
    // sample (≤ sampleCap·dim doubles, ~8 MB at the caps — the sanctioned
    // bounded-collect class), then the Lloyd loop runs DRIVER-SIDE in
    // [[lloydDriver]] with bit-identical op order: the former distributed
    // iteration spent its time on per-iteration job scheduling + two
    // shuffles of the SAMPLE (init collect + 3×(argmax, posexplode,
    // groupBy², collect) ≈ 8 driver round-trips), a pure constant that
    // dominated every trainCentroids consumer at small-corpus scale while
    // buying nothing at 100 TB — the sample is bounded either way.
    val sample: Array[(Long, Array[Double])] = prepared(embeddings)
      .orderBy(graft.functions.HashOps.md5Low64(col("vec_id").cast(StringType)),
        col("vec_id"))
      .limit(sampleCap)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    centFrame(spark, lloydDriver(sample, nBuckets, iterations))
  }

  /** Driver-side Lloyd over the collected bounded sample — every
    * floating-point step replicates the former distributed iteration (and
    * the DuckDB oracle CTEs) BIT-EXACTLY:
    *
    *  - init: the `k` lowest sample vec_ids, bucket = vec_id rank;
    *  - assignment: per row, argmax over the centroid array of
    *    struct(cosine, −bucket) under Spark's struct ordering — cosine is
    *    the left-to-right fold dot / (sqrt(ssq_a)·sqrt(ssq_b)) with the
    *    den==0→null guard (null smallest, ties to the lowest bucket), and
    *    double compare is SQLOrderingUtil's (-0.0 == 0.0, NaN greatest);
    *  - update: per (bucket, dim), fold members' values in vec_id order
    *    (left-to-right double sum) then ONE division by the member count;
    *    empty clusters keep their previous centroid.
    *
    * Cross-engine witness: all ivf/pq/semdedup oracle rows stay hash-exact
    * (CORRECTNESS gate) and the ivf specs pin the trained values.
    */
  private def lloydDriver(
      sample: Array[(Long, Array[Double])], k: Int,
      iterations: Int): Array[(Long, Seq[Double])] = {
    def ssq(a: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val x = a(i); acc += x * x; i += 1 }
      acc
    }
    def dotp(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // VectorOps.cosine verbatim: null (not NaN/∞) when either norm is zero
    def cos(a: Array[Double], b: Array[Double]): java.lang.Double = {
      val den = math.sqrt(ssq(a)) * math.sqrt(ssq(b))
      if (den == 0.0) null else java.lang.Double.valueOf(dotp(a, b) / den)
    }
    // SQLOrderingUtil.compareDoubles: == first (so -0.0 == 0.0), then
    // java.lang.Double.compare (NaN greatest) — Spark's DoubleType ordering
    def cmpD(x: Double, y: Double): Int =
      if (x == y) 0 else java.lang.Double.compare(x, y)
    val byId = sample.sortBy(_._1) // vec_id order: init + fold means
    var cents: Array[(Long, Array[Double])] =
      byId.take(k).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    var it = 0
    while (it < iterations) {
      // argmax in centroid-array order, strictly-greater replacement —
      // ArrayMax semantics (order-invariant here: −bucket is unique)
      val assigned: Array[(Long, Array[Double])] = byId.map { case (_, v) =>
        var bestSim: java.lang.Double = null
        var bestNb = 0L
        var bestB = -1L
        var first = true
        var ci = 0
        while (ci < cents.length) {
          val (b, cv) = cents(ci)
          val sim = cos(v, cv)
          val nb = -b
          val greater = first || {
            val c1 =
              if (sim == null && bestSim == null) 0
              else if (sim == null) -1
              else if (bestSim == null) 1
              else cmpD(sim.doubleValue, bestSim.doubleValue)
            c1 > 0 || (c1 == 0 && nb > bestNb)
          }
          if (greater) { bestSim = sim; bestNb = nb; bestB = b; first = false }
          ci += 1
        }
        (bestB, v)
      }
      // groupBy on the vec_id-ordered array keeps members in vec_id order,
      // so the per-dim left fold matches sort_array(collect_list(...))
      val updated = assigned.groupBy(_._1).toArray.map { case (b, members) =>
        val dim = members(0)._2.length
        val cv = new Array[Double](dim)
        var d = 0
        while (d < dim) {
          var acc = 0.0; var m = 0
          while (m < members.length) { acc += members(m)._2(d); m += 1 }
          cv(d) = acc / members.length
          d += 1
        }
        (b, cv)
      }
      val updatedIds = updated.map(_._1).toSet
      cents = updated ++ cents.filterNot(c => updatedIds(c._1))
      it += 1
    }
    cents.sortBy(_._1).map { case (b, v) => (b, v.toSeq) }
  }

  private def centFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toSeq.sortBy(_._1).toDF("bucket", "cv")
  }

  /** Assignment against an existing centroid table: ZERO-shuffle map-side
    * argmax. The centroid table is k×dim — driver-small by construction
    * (trainCentroids materializes it locally anyway) — so it ships as a
    * closure literal and each row scores all k centroids in one projection:
    * no crossJoin row multiplication, no corpus-sized argmax shuffle. The
    * argmax is array_max over (sim, −bucket) structs — lexicographic max ≡
    * highest sim, ties to the lowest bucket id, identical to the previous
    * max_by formulation (oracle replay unchanged). Returns (vec_id, v,
    * bucket).
    */
  def assignBucketsWith(embeddings: DataFrame, cents: DataFrame): DataFrame = {
    val centArr: Seq[(Long, Seq[Double])] = cents.orderBy(col("bucket"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    prepared(embeddings)
      .withColumn("best", bestBucket(centArr))
      .select(col("vec_id"), col("v"), col("best.bucket").as("bucket"),
        col("best.sim").as("centroid_cosine"))
  }

  /** (sim, −bucket, bucket) argmax over a driver-local centroid array as a
    * single per-row projection: highest cosine, ties to the lowest bucket.
    * Expects a `v` column. Native [[graft.functions.ArgmaxCosine]] — value-
    * identical to the former `array_max(transform(typedLit(...), …))`
    * struct argmax, without the interpreted per-centroid lambda and the
    * ~10³-node literal tree that was re-planned on every execution.
    */
  private def bestBucket(centArr: Seq[(Long, Seq[Double])]): Column =
    graft.functions.VectorOps.argmaxCosine(col("v"), centArr)

  /** Deterministic IVF bucket assignment: nearest of the `nBuckets`
    * k-means centroids ([[trainCentroids]]). Returns (vec_id, v, bucket).
    */
  def assignBuckets(embeddings: DataFrame, nBuckets: Int = 16): DataFrame =
    assignBucketsWith(embeddings, trainCentroids(embeddings, nBuckets))

  /** Embedding-space OUTLIER detection: the `topN` vectors with the
    * LOWEST cosine to their own nearest k-means centroid — points no
    * cluster explains, the SemDeDup paper's prototypicality signal run in
    * reverse (ABBAS et al. 2023 keep cluster-typical points; a curation
    * pipeline ALSO wants the far tail surfaced for OOD audit / junk
    * triage). Reuses the [[trainCentroids]] broadcast-centroid argmax, so
    * the whole query is a zero-shuffle projection plus one TakeOrdered —
    * at 100 TB the centroids stay plan literals and the scan streams.
    * Every emitted double is the deterministic left-fold cosine, so the
    * sim_cosine_ivf oracle chain replays it bit-exactly.
    */
  def centroidOutliers(embeddings: DataFrame, nBuckets: Int = 16,
      topN: Int = 50): DataFrame =
    assignBuckets(embeddings, nBuckets)
      .select(col("vec_id"), col("bucket"), col("centroid_cosine"))
      .orderBy(col("centroid_cosine").asc, col("vec_id").asc)
      .limit(topN)

  /** Exact k-NN neighbor graph WITHIN a blocking key — the SemDeDup /
    * embedding-clustering primitive: block the corpus (here the labeled
    * blocks the testdata provides; at 100 TB the IVF bucket from
    * [[trainCentroids]], which is a partition column), then exact-search
    * inside each block only. The pair stage is an EQUI-join on the block
    * key — candidate count is Σ block², never corpus² — and per-node top-k
    * is one window partitioned by the source vector, so its sort scales
    * with block size, not corpus size.
    *
    * COST CONTRACT: Θ(Σ block²). Blocking is the caller's knob — with a
    * FIXED-cardinality block column (as here: 10 labels) block sizes grow
    * linearly with the corpus and the exact search is Θ(N²) by definition
    * (the r6 three-decade sweep measured e≈1.7 on exactly this shape).
    * The at-scale choice is a corpus-size-adaptive refinement:
    * [[knnGraphBucketed]] (SRP-refined blocks, e≈1) or IVF clusters with
    * cluster count ∝ N (the SemDeDup paper's configuration).
    */
  /** SELF-ENFORCING Θ(Σ block²) contract for the fixed-blocking demo
    * members (r6 VERDICT #4): one map-combined count agg over the block
    * keys measures the pair-stage load factor Σ block² / N — the
    * comparisons-per-row the equi-join is about to do. Past
    * `maxCompPerRow` the operator REFUSES with the scale sibling's name,
    * instead of silently burning a quadratic decade: a fixed-cardinality
    * block column means block ≈ N/|blocks|, so the factor grows linearly
    * with the corpus and crosses any fixed budget exactly one decade after
    * the demo decade. Default 32768 clears the measured sf0.1 (≈500) and
    * 10× (≈5000) points and trips at 100× (≈50000) — the decade the r6
    * sweep already delegated to the bucketed siblings.
    */
  private def guardBlockLoad(blocks: DataFrame, op: String, sibling: String,
      maxCompPerRow: Long): Unit = if (maxCompPerRow > 0) {
    // square in DECIMAL, not Long: a block past ~3.04e9 rows would overflow
    // the Long multiply and ANSI-throw ArithmeticException — in exactly the
    // pathological-skew regime this guard exists to diagnose (r7 ADVICE)
    val c38 = col("c").cast(DecimalType(38, 0))
    val r = blocks.groupBy(col("block")).agg(count(lit(1)).as("c"))
      .agg(sum(c38).cast(DecimalType(38, 0)),
        sum(c38 * c38).cast(DecimalType(38, 0))).head()
    val n = BigInt(r.getDecimal(0).toBigInteger)
    val cand = BigInt(r.getDecimal(1).toBigInteger)
    if (n > 0 && cand > BigInt(maxCompPerRow) * n) throw new IllegalStateException(
      s"$op: pair stage would do ~${cand / n} comparisons per row " +
        s"(Σ block² = $cand over $n rows; budget $maxCompPerRow/row) — " +
        s"fixed-cardinality blocking is Θ(N²) by contract at this scale. " +
        s"Use $sibling (scale-adaptive blocks), or raise maxCompPerRow " +
        "deliberately.")
  }

  def knnGraphBlocked(
      embeddings: DataFrame, k: Int = 3, blockCol: String = "label",
      maxCompPerRow: Long = 32768L): DataFrame = {
    val e = embeddings.select(col("vec_id"), col(blockCol).as("block"),
      asDouble(col("embedding")).as("v"))
    guardBlockLoad(e.select(col("block")), "knnGraphBlocked",
      "Similarity.knnGraphBucketed", maxCompPerRow)
    val a = e.select(col("vec_id"), col("block"), col("v").as("va"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("block"), col("v").as("vb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    a.join(b, Seq("block"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("block"), col("neighbor_id"),
        cosine(col("va"), col("vb")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .select(col("vec_id"), col("block"), col("rank"), col("neighbor_id"),
        col("cosine"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Scale-adaptive blocked kNN graph — [[knnGraphBlocked]] with the block
    * refined by a hyperplane-LSH bucket whose WIDTH GROWS WITH THE CORPUS,
    * so expected block size stays ~`targetBlock` at every scale and the
    * Σ block² pair stage is linear in N (the r6 sweep measured the
    * label-only variant at e≈1.7: fixed-cardinality blocks grow linearly
    * with the corpus, so exact-within-block search is Θ(N²) BY CONTRACT —
    * blocking is the caller's knob, and this is the at-scale choice).
    *
    * The bucket is the low `b` bits of the [[randomProjection]] SRP
    * signature, `b` = smallest value with targetBlock·2^b ≥ count — an
    * integer loop both engines replicate exactly (no float log2, whose
    * rounding could differ at powers of two). Hyperplanes are the identical
    * md5-derived ±1 rows, so the oracle re-derives every bucket bit-exactly
    * at ANY dir (it computes b from its own count(*)).
    *
    * Semantics: exact k-NN AMONG vectors sharing (label, srp-bucket) —
    * near-neighbors agree on SRP bits with high probability, unrelated
    * vectors scatter uniformly, which is what bounds the blocks.
    */
  def knnGraphBucketed(
      embeddings: DataFrame, k: Int = 3, targetBlock: Int = 160,
      nBits: Int = 16, dim: Int = 64, blockCol: String = "label"): DataFrame = {
    // the one scalar the blocking width derives from (same pattern as
    // graph_pagerank's loop-width self-sizing)
    val e0 = embeddings.select(col("vec_id"), col(blockCol).as("block"),
      asDouble(col("embedding")).as("v"))
    val bucketed = withAdaptiveSrpBucket(e0, graft.util.Fs.rowCount(embeddings),
      targetBlock, nBits, dim, "bucket")
    val a = bucketed.select(col("vec_id"), col("block"), col("bucket"),
      col("v").as("va"))
    val bb = bucketed.select(col("vec_id").as("neighbor_id"), col("block"),
      col("bucket"), col("v").as("vb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    a.join(bb, Seq("block", "bucket"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("block"), col("bucket"), col("neighbor_id"),
        cosine(col("va"), col("vb")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .select(col("vec_id"), col("block"), col("bucket"), col("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** SemDeDup pruning (Abbas et al. 2023, arXiv:2303.09540 — semantic
    * dedup inside embedding clusters), lowest-id-witness variant: within
    * each block, a vector is DROPPED when a lower-id vector in the same
    * block has cosine >= threshold to it (the witness is the lowest such
    * id). Non-recursive — the witness need not itself be kept — which is
    * the one-join formulation both engines can express identically; the
    * recursive greedy variant differs only when near-dup chains exceed two
    * hops at the threshold.
    *
    * Scale shape mirrors [[knnGraphBlocked]], including its Θ(Σ block²)
    * COST CONTRACT: the pair stage is an EQUI-join on the block key
    * (Σ block² candidates, never corpus²), followed by one
    * partial-aggregating min per vector — no window sort, no all-pairs
    * stage. With a fixed-cardinality block column the pair stage is Θ(N²)
    * by definition; at scale the caller supplies bounded blocks — IVF
    * clusters with cluster count ∝ N (the SemDeDup paper trains 50k
    * k-means clusters for LAION precisely so blocks stay ~constant), or an
    * SRP refinement as in [[knnGraphBucketed]].
    *
    * Returns (vec_id, block, kept, witness_id, witness_cosine) — the full
    * decision table, so the filter step downstream is a trivial
    * `where(kept)`.
    */
  def semDedupPrune(
      embeddings: DataFrame, threshold: Double = 0.3,
      blockCol: String = "label",
      maxCompPerRow: Long = 32768L): DataFrame = {
    guardBlockLoad(embeddings.select(col(blockCol).as("block")),
      "semDedupPrune", "Similarity.semDedupPruneBucketed", maxCompPerRow)
    semDedupCore(embeddings.select(col("vec_id"), col(blockCol).as("block"),
      asDouble(col("embedding")).as("v")), threshold)
  }

  /** SemDeDup with operator-owned, SCALE-ADAPTIVE blocking — the at-scale
    * instantiation the [[semDedupPrune]] cost contract calls for. Blocks
    * are (IVF coarse bucket, adaptive SRP refinement):
    *
    *  - the semantic part is the deterministic k-means bucket of
    *    [[assignBuckets]] (trained once on a capped sample, assignment a
    *    zero-shuffle map-side argmax) — the SemDeDup paper's
    *    cluster-then-prune construction;
    *  - the SIZE BOUND is the [[knnGraphBucketed]] discipline: the low `b`
    *    bits of the md5-derived SRP signature, with `b` the smallest value
    *    satisfying targetBlock·2^b ≥ count — an integer loop the oracle
    *    re-derives from its own count(*), so expected block population
    *    stays ~targetBlock at EVERY corpus size and the Θ(Σ block²) pair
    *    stage is linear in N (the label-blocked variant measured e≈1.1–1.3
    *    across the r6 three-decade sweep, exactly its documented
    *    fixed-cardinality contract).
    *
    * block id = bucket·2^16 | srpLowBits (one BIGINT both engines build
    * identically). Witness semantics and output shape match
    * [[semDedupPrune]]; the whole training + assignment + SRP + witness
    * chain replays in DuckDB (sim_cosine_ivf k-means CTEs + the
    * sim_knn_graph_bucketed width/projection CTEs + the sim_semdedup
    * witness join).
    */
  def semDedupPruneBucketed(
      embeddings: DataFrame, threshold: Double = 0.3, nBuckets: Int = 16,
      targetBlock: Int = 160, nBits: Int = 16, dim: Int = 64): DataFrame = {
    // the block id packs the SRP bits into the low 16 bits below the IVF
    // bucket — wider signatures would silently alias into the bucket field
    require(nBits <= 16, "block id reserves 16 bits for the SRP refinement")
    val assigned = assignBuckets(embeddings, nBuckets) // (vec_id, v, bucket)
    val srp = withAdaptiveSrpBucket(assigned, graft.util.Fs.rowCount(embeddings),
      targetBlock, nBits, dim, "srp")
    val blocked = srp.select(col("vec_id"),
      (col("bucket").cast(LongType) * lit(1L << 16) +
        col("srp").cast(LongType)).as("block"),
      col("v"))
    semDedupCore(blocked, threshold)
  }

  /** Adaptive-width SRP bucket shared by [[knnGraphBucketed]] and
    * [[semDedupPruneBucketed]] (one definition so the oracle-replay
    * contract — md5-derived ±1 hyperplanes `rp|j|i`, width b = smallest
    * value with targetBlock·2^b ≥ n, both re-derived by the DuckDB CTEs —
    * can never drift between call sites): appends INT `outCol` = the low-b
    * packed sign bits of the `v` column's projections.
    */
  private def withAdaptiveSrpBucket(
      e: DataFrame, n: Long, targetBlock: Int, nBits: Int, dim: Int,
      outCol: String): DataFrame = {
    var b = 0
    while (b < nBits && targetBlock.toLong * (1L << b) < n) b += 1
    // native SrpPackedBits: the identical left-fold projections, `> 0`
    // sign rule and low-b mask the former 16-column HOF stack computed —
    // one expression node per row instead of ~10³ re-planned per execution
    val in = e.columns.map(col).toSeq
    e.select(in :+ graft.functions.VectorOps.srpPackedBits(
      col("v"), srpSigns(nBits, dim), (1 << b) - 1).as(outCol): _*)
  }

  /** The md5-derived ±1 hyperplane matrix every SRP consumer shares
    * (sign_ij from the cross-engine md5-low-64 bits of "rp|j|i").
    */
  private[ops] def srpSigns(nBits: Int, dim: Int): IndexedSeq[Seq[Double]] =
    IndexedSeq.tabulate(nBits) { j =>
      Seq.tabulate(dim) { i =>
        if (Sketches.md5Low64String(s"rp|$j|$i") >= 0) 1.0 else -1.0
      }
    }

  /** Witness core shared by the label-blocked and IVF-bucketed variants:
    * expects (vec_id, block, v). */
  private def semDedupCore(e: DataFrame, threshold: Double): DataFrame = {
    val a = e.select(col("vec_id"), col("block"), col("v").as("va"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("block"),
      col("v").as("vb"))
    val wit = a.join(b, Seq("block"))
      .where(col("neighbor_id") < col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("va"), col("vb")).as("c"))
      .where(col("c") >= threshold)
      .groupBy(col("vec_id"))
      // lowest-id witness + its cosine in one partial-aggregating min
      // (struct ordering leads on neighbor_id, which is unique per group)
      .agg(min(struct(col("neighbor_id"), col("c"))).as("w"))
    e.join(wit, Seq("vec_id"), "left")
      .select(col("vec_id"), col("block"),
        col("w").isNull.as("kept"),
        col("w.neighbor_id").as("witness_id"),
        col("w.c").as("witness_cosine"))
      .orderBy(col("vec_id"))
  }

  /** Symmetric per-vector int8 quantization — the 4×→1 byte storage
    * reduction step an embedding store runs before ANN indexing: scale =
    * max|x|/127, q_i = floor(x_i/scale + 0.5). floor(+0.5) instead of
    * round() because the two engines disagree on round-half ties (HALF_UP
    * vs away-from-zero) while floor is tie-free and bit-identical; max is
    * order-independent, and every remaining step is one correctly-rounded
    * double op, so the whole quantized vector replays exactly — pinned by
    * an md5 over its comma-joined values. The reconstruction bound
    * max|x − q·scale| ≤ scale/2 is a theorem, emitted as `bound_ok`.
    *
    * Pure per-row projection: zero shuffles before the output sort, embeds
    * in any scan. Returns (vec_id, n_dims, scale, q_hash, q_l1, max_abs_err,
    * mse, bound_ok).
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val e = prepared(embeddings)
    val scaleRaw = array_max(transform(col("v"), x => abs(x))) / lit(127.0)
    // zero vectors: scale 0 would divide-by-zero under ANSI; quantize to
    // all-zeros via a 1.0 stand-in (q = floor(0/1 + 0.5) = 0)
    val scale = when(scaleRaw === 0.0, lit(1.0)).otherwise(scaleRaw)
    val q = transform(col("v"), x => floor(x / col("scale") + lit(0.5)).cast(IntegerType))
    val err = zip_with(col("v"), col("q"),
      (x, qi) => abs(x - qi.cast(DoubleType) * col("scale")))
    e.withColumn("scale", scale)
      .withColumn("q", q)
      .withColumn("err", err)
      .select(col("vec_id"),
        size(col("v")).as("n_dims"),
        col("scale"),
        md5(concat_ws(",", transform(col("q"), x => x.cast(StringType)))
          .cast(BinaryType)).as("q_hash"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x).cast(LongType))
          .as("q_l1"),
        array_max(col("err")).as("max_abs_err"),
        (aggregate(col("err"), lit(0.0), (acc, x) => acc + x * x) /
          size(col("v"))).as("mse"),
        (array_max(col("err")) <= col("scale") / 2).as("bound_ok"))
      .orderBy(col("vec_id"))
  }

  /** Signed random projection (SRP / hyperplane LSH, Charikar STOC'02) to
    * `nProj` dimensions: proj_j = Σ_i sign_ij · v_i with sign_ij = ±1
    * derived from the cross-engine md5-low-64 bits of "rp|j|i". The sign
    * matrix is DATA-INDEPENDENT, so it is built once driver-side (nProj×dim
    * literals riding in the plan — no join, no shuffle) and the projection
    * runs as a pure map at scan speed; `srp_bits` packs the nProj
    * projection signs into the hyperplane-LSH bucket key a banded ANN
    * stage shuffles on (8 B/vector instead of dim×4 B — the
    * dimensionality-reduction half of dedup_embedding_cosine's banding).
    *
    * Every projected double is a left-to-right fold over products of
    * exact operands (matching DuckDB's list_sum fold — the sim_cosine_ivf
    * determinism argument), so the oracle replays all values bit-exactly,
    * including the Johnson-Lindenstrauss norm ratio ‖p‖²/(nProj·‖v‖²)
    * whose expectation is 1.
    *
    * `dim` is schema knowledge the caller supplies (the corpus is 64-wide);
    * vectors shorter than `dim` would zip-truncate, not error.
    */
  def randomProjection(
      embeddings: DataFrame, nProj: Int = 16, dim: Int = 64): DataFrame = {
    require(nProj <= 31, "srp_bits packs signs into a signed 32-bit int")
    require(nProj >= 4, "output surface hard-codes projection columns p0..p3")
    val signs = srpSigns(nProj, dim)
    val e = prepared(embeddings)
    // native DotProduct/SquaredNorm against the literal sign rows — the
    // identical left-to-right folds the former aggregate(zip_with(...))
    // stack computed interpreted (bench/verify sessions don't load the
    // GraftExtensions HOF rewrite; nothing should depend on it)
    val projCols = (0 until nProj).map { j =>
      graft.functions.VectorOps.dot(col("v"), typedLit(signs(j))).as(s"p$j")
    }
    val sqNormV = graft.functions.VectorOps.squaredNorm(col("v")).as("nv")
    // materialize the projections before reusing them (each p_j is a
    // 64-element fold; bits/norm must reference attributes, not copies)
    val projected = e.select(col("vec_id") +: sqNormV +: projCols: _*)
    val bits = (0 until nProj)
      .map(j => when(col(s"p$j") > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _).cast(IntegerType)
    val sqNormP = (0 until nProj)
      .map(j => col(s"p$j") * col(s"p$j"))
      .reduce(_ + _)
    projected.select(col("vec_id"), bits.as("srp_bits"),
        col("p0"), col("p1"), col("p2"), col("p3"),
        when(col("nv") === 0.0, lit(null).cast("double"))
          .otherwise(sqNormP / (lit(nProj.toDouble) * col("nv")))
          .as("jl_ratio"))
      .orderBy(col("vec_id"))
  }

  /** IVF-style ANN: probe the `nProbe` centroid buckets closest to the
    * query, exact cosine within them.
    */
  /** Spherical product quantization (Jégou et al., TPAMI'11 — re-derived,
    * no code): the 64-dim embedding splits into `nSub` 16-dim subspaces;
    * each subspace trains its own `k`-centroid codebook with EXACTLY the
    * trainCentroids discipline (hash-ordered bounded sample, deterministic
    * init, cosine argmax assignment, vec_id-ordered fold means — every step
    * bit-replayable in SQL), and each vector is encoded as nSub 4-bit codes
    * packed into one small integer. `recon_cosine` — cosine between the
    * vector and its codebook reconstruction (the concatenation of its four
    * chosen centroids) — is the quantization-quality surface an ANN recall
    * budget is planned against.
    *
    * Scale: codebooks are nSub·k·(dim/nSub) doubles — driver-small, shipped
    * as plan literals; encoding is a ZERO-shuffle map-side projection over
    * the corpus (the assignBucketsWith shape, ×nSub), so PQ encoding embeds
    * in any scan at 100 TB. Training touches only the bounded sample.
    * Memory story: 64×4 B float vectors become nSub·4 bits (32× smaller),
    * the compression that lets an ANN index hold billions of vectors.
    */
  /** Trains the PQ codebooks and encodes the corpus; returns (books,
    * coded frame carrying vec_id, v, c0..c{nSub-1}). Shared by
    * productQuantize (embed_pq) and pqAdcTopK (sim_pq_adc).
    */
  private def pqModel(
      embeddings: DataFrame, nSub: Int, k: Int,
      iterations: Int, sampleCap: Int)
      : (Array[Array[(Long, Seq[Double])]], DataFrame) =
    pqModelPrepared(prepared(embeddings), nSub, k, iterations, sampleCap)

  /** pqModel over an already-prepared frame carrying (vec_id, v, ...);
    * any extra columns pass through to the coded output (ivfPqTopK rides
    * the coarse bucket and the original vector through here).
    */
  private def pqModelPrepared(
      e: DataFrame, nSub: Int, k: Int,
      iterations: Int, sampleCap: Int)
      : (Array[Array[(Long, Seq[Double])]], DataFrame) = {
    val books = pqTrainBooks(e, nSub, k, iterations, sampleCap)
    (books, pqEncodeWith(books, e, nSub))
  }

  /** The training half of [[pqModelPrepared]]: per-subspace Lloyd runs over
    * the bounded hash-ordered sample of `e`. Split out so the streaming
    * upsert can train on the BASE corpus and encode other frames later.
    */
  private def pqTrainBooks(
      e: DataFrame, nSub: Int, k: Int,
      iterations: Int, sampleCap: Int): Array[Array[(Long, Seq[Double])]] = {
    val subDim = 16 // embeddings table carries 64 dims = nSub * subDim
    // ONE hash-ordered corpus TakeOrdered + collect feeds all subspaces
    // (≤ sampleCap·dim doubles — the trainCentroids bounded-collect class),
    // then each subspace's Lloyd runs driver-side in [[lloydDriver]]:
    // per-subspace slicing + init (k lowest sample vec_ids, bucket =
    // vec_id rank) + assignment argmax + vec_id-ordered fold means are all
    // the identical ops the former distributed iteration ran, so the books
    // are bit-equal — without the per-iteration job scheduling and sample
    // shuffles that dominated every PQ consumer's constant.
    val sample: Array[(Long, Array[Double])] = e.select(col("vec_id"), col("v"))
      .orderBy(graft.functions.HashOps.md5Low64(col("vec_id").cast(StringType)),
        col("vec_id"))
      .limit(sampleCap)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    (0 until nSub).map { j =>
      val sub = sample.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      }
      lloydDriver(sub, k, iterations)
    }.toArray
  }

  /** The encoding half of [[pqModelPrepared]]: argmax each subspace of `e`
    * against its FROZEN literal codebook. Pure zero-shuffle projection —
    * callable on any frame carrying (vec_id, v, …), including streaming
    * micro-batches.
    */
  private def pqEncodeWith(
      books: Array[Array[(Long, Seq[Double])]],
      e: DataFrame, nSub: Int): DataFrame = {
    val subDim = 16
    // one projection: slice sub-vectors to ATTRIBUTES first (a HOF lambda
    // must never hold a non-attribute subtree — CLAUDE.md rule), then argmax
    // each subspace against its literal codebook, then reconstruct + score
    val passThru = e.columns.map(col).toSeq
    val sliced = e.select(
      (passThru ++
        (0 until nSub).map(j =>
          slice(col("v"), lit(j * subDim + 1), lit(subDim)).as(s"v$j"))): _*)
    val coded = sliced.select(
      (passThru ++
        (0 until nSub).map { j =>
          // native argmax (ArgmaxCosine): same struct order, same ties
          graft.functions.VectorOps.argmaxCosine(col(s"v$j"), books(j).toSeq)
            .getField("bucket").as(s"c$j")
        }): _*)
    coded
  }

  def productQuantize(
      embeddings: DataFrame, nSub: Int = 4, k: Int = 16,
      iterations: Int = 3, sampleCap: Int = 4096): DataFrame = {
    val (books, coded) = pqModel(embeddings, nSub, k, iterations, sampleCap)
    val reconParts = (0 until nSub).map { j =>
      element_at(typedLit(books(j).map(_._2).toSeq),
        (col(s"c$j") + 1).cast(IntegerType))
    }
    coded
      .withColumn("recon", concat(reconParts: _*))
      .select(
        (col("vec_id") +:
          (0 until nSub).map(j => col(s"c$j"))) :+
          (0 until nSub).map(j => col(s"c$j"))
            .reduce((a, b) => a * k + b).as("code") :+
          cosine(col("v"), col("recon")).as("recon_cosine"): _*)
      .orderBy(col("vec_id"))
  }

  /** PQ index search by asymmetric distance computation (ADC): the query
    * vector is exact, the corpus exists only as PQ codes, and the score is
    * cosine(q, reconstruction) computed WITHOUT touching any corpus vector
    * — per-subspace lookup tables dot_j[b] = q_j·book_j[b] and
    * nrm_j[b] = |book_j[b]|² are built driver-side (nSub·k doubles) and
    * ride in the plan as literals, so scoring is a zero-shuffle projection
    * + TakeOrdered: the FAISS IndexPQ query shape, the reason PQ codes are
    * searchable at billions of vectors. `exact_cosine` (needs the true
    * vector) is emitted alongside as the recall-audit surface.
    *
    * Determinism: each LUT entry is a left-to-right 16-dim fold, partial
    * sums add left-associatively, q's norm is a 64-dim fold — all
    * replayed identically by the oracle's list_sum slices, so the ADC
    * scores, the top-k cut, and the audit cosines all hash-replay.
    */
  def pqAdcTopK(
      embeddings: DataFrame, queryId: Long = 0L, topK: Int = 10,
      nSub: Int = 4, k: Int = 16,
      iterations: Int = 3, sampleCap: Int = 4096): DataFrame = {
    val subDim = 16
    val (books, coded) = pqModel(embeddings, nSub, k, iterations, sampleCap)
    val qv: Seq[Double] = prepared(embeddings)
      .where(col("vec_id") === queryId)
      .select(col("v")).collect()(0).getSeq[Double](0)
    def fold16(j: Int, b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < subDim) { acc += qv(j * subDim + i) * b(i); i += 1 }
      acc
    }
    def nrm(b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { acc += b(i) * b(i); i += 1 }
      acc
    }
    val qNorm = {
      var acc = 0.0; var i = 0
      while (i < qv.length) { acc += qv(i) * qv(i); i += 1 }
      math.sqrt(acc)
    }
    val dotLut = (0 until nSub).map(j => books(j).map(c => fold16(j, c._2)).toSeq)
    val nrmLut = (0 until nSub).map(j => books(j).map(c => nrm(c._2)).toSeq)
    val dSum = (0 until nSub).map(j =>
      element_at(typedLit(dotLut(j)), (col(s"c$j") + 1).cast(IntegerType)))
      .reduce(_ + _)
    val nSum = (0 until nSub).map(j =>
      element_at(typedLit(nrmLut(j)), (col(s"c$j") + 1).cast(IntegerType)))
      .reduce(_ + _)
    coded
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        (dSum / (lit(qNorm) * sqrt(nSum))).as("adc_cosine"),
        cosine(col("v"), typedLit(qv)).as("exact_cosine"))
      .orderBy(col("adc_cosine").desc, col("vec_id"))
      .limit(topK)
  }

  /** IVF-PQ — the billion-scale composite index (FAISS IndexIVFPQ,
    * Jégou et al. TPAMI'11 re-derived): a coarse quantizer routes each
    * vector to one of `nCoarse` buckets, PQ codes the RESIDUAL
    * v − coarse[bucket] (residuals are tighter than raw vectors, so the
    * same code budget quantizes better), and a query probes only the
    * `nProbe` closest buckets, scoring candidates from codes alone via
    * lookup tables — never touching a stored vector:
    * cosine(q, coarse[b] + recon) decomposes into dotCoarse[b] (16
    * doubles), per-subspace dot LUTs, coarse×book cross LUTs
    * (nCoarse·nSub·k doubles), and norm LUTs — ALL driver-small plan
    * literals. At scale the bucket column is a partition key: the probe
    * scans ~nProbe/nCoarse of the codes, each 2 bytes per vector.
    *
    * Every term is a left-to-right fold and every combination is written
    * left-associatively on both engines, so the oracle replays the coarse
    * training, the residual PQ training, the probe choice, the ADC scores
    * and the top-k cut bit-exactly. `exact_cosine` audits recall.
    */
  /** Driver-small FROZEN IVF-PQ model: coarse centroids + per-subspace PQ
    * codebooks (nCoarse·64 + nSub·k·16 doubles ≈ 10 KB at the defaults) —
    * ships as plan literals wherever it's used, so encode and search stay
    * zero-shuffle map-side projections. Freezing is the FAISS IndexIVFPQ
    * contract (faiss IndexIVFPQ::add encodes with trained quantizers, never
    * retrains): codes produced at different times — batch build vs
    * streaming upsert — are mutually comparable, the property
    * stream_ivfpq_upsert's ==batch test pins.
    */
  case class IvfPqModel(
      coarse: IndexedSeq[Seq[Double]],
      books: Array[Array[(Long, Seq[Double])]])

  /** (vec_id, v = residual vs nearest coarse centroid, v_orig, bucket) for
    * any embedding frame, against FROZEN coarse centroids (map-side argmax,
    * zero shuffle).
    */
  private def residualsWith(
      emb: DataFrame, coarse: IndexedSeq[Seq[Double]]): DataFrame = {
    val centDf = centFrame(emb.sparkSession,
      coarse.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toArray)
    // residuals: v - coarse[bucket]; original vector rides along for audit
    assignBucketsWith(emb, centDf)
      .select(col("vec_id"),
        zip_with(col("v"),
          element_at(typedLit(coarse), (col("bucket") + 1).cast(IntegerType)),
          (x, c) => x - c).as("v"),
        col("v").as("v_orig"), col("bucket"))
  }

  /** Trains coarse quantizer + residual PQ books on `trainEmb` and returns
    * the model alongside trainEmb's residual frame (so the batch path
    * encodes its own corpus without a second assignment pass).
    */
  private def ivfPqTrainRes(
      trainEmb: DataFrame, nCoarse: Int, nSub: Int, k: Int,
      iterations: Int, sampleCap: Int): (IvfPqModel, DataFrame) = {
    val coarseDf = trainCentroids(trainEmb, nBuckets = nCoarse,
      iterations = iterations, sampleCap = sampleCap)
    val coarse: IndexedSeq[Seq[Double]] = coarseDf.orderBy(col("bucket"))
      .collect().map(_.getSeq[Double](1)).toIndexedSeq
    val res = residualsWith(trainEmb, coarse)
    val books = pqTrainBooks(res, nSub, k, iterations, sampleCap)
    (IvfPqModel(coarse, books), res)
  }

  /** Public train surface: model only (the streaming upsert trains on the
    * pre-stream base corpus, then encodes batches as they arrive).
    */
  def ivfPqTrain(
      trainEmb: DataFrame, nCoarse: Int = 16, nSub: Int = 4, k: Int = 16,
      iterations: Int = 3, sampleCap: Int = 4096): IvfPqModel =
    ivfPqTrainRes(trainEmb, nCoarse, nSub, k, iterations, sampleCap)._1

  /** Encode any embedding frame with a FROZEN model: coarse-route, form the
    * residual, PQ-argmax per subspace. One zero-shuffle projection — safe
    * inside a streaming micro-batch.
    */
  def ivfPqEncode(model: IvfPqModel, emb: DataFrame): DataFrame =
    pqEncodeWith(model.books, residualsWith(emb, model.coarse),
      model.books.length)

  /** ADC search over a coded frame (vec_id, bucket, c0.., v_orig) with a
    * frozen model; `queryEmb` supplies the exact query vector. LUTs are
    * driver-small plan literals — scoring never touches a stored vector.
    */
  def ivfPqSearch(
      model: IvfPqModel, coded: DataFrame, queryEmb: DataFrame,
      queryId: Long = 0L, topK: Int = 10, nProbe: Int = 4): DataFrame = {
    val subDim = 16
    val nSub = model.books.length
    val coarse = model.coarse
    val books = model.books
    val qv: Seq[Double] = prepared(queryEmb)
      .where(col("vec_id") === queryId)
      .select(col("v")).collect()(0).getSeq[Double](0)
    def dot(a: Seq[Double], off: Int, b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { acc += a(off + i) * b(i); i += 1 }
      acc
    }
    def sq(b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { acc += b(i) * b(i); i += 1 }
      acc
    }
    val qNorm = math.sqrt(sq(qv))
    // probe choice: same fold-cosine + (desc, bucket) tie-break as the SQL
    val probes: Seq[Long] = coarse.zipWithIndex
      .map { case (c, b) => (dot(qv, 0, c) / (qNorm * math.sqrt(sq(c))), b) }
      .sortBy { case (sim, b) => (-sim, b) }.take(nProbe).map(_._2.toLong)
    val dotCoarse = coarse.map(c => dot(qv, 0, c))
    val nrmCoarse = coarse.map(sq)
    val dotLut = (0 until nSub).map(j => books(j).map(c => dot(qv, j * subDim, c._2)).toSeq)
    val nrmLut = (0 until nSub).map(j => books(j).map(c => sq(c._2)).toSeq)
    val crossLut = (0 until nSub).map(j => coarse.map(cc =>
      books(j).map(c => dot(cc, j * subDim, c._2)).toSeq).toSeq)

    val bIdx = (col("bucket") + 1).cast(IntegerType)
    def cIdx(j: Int) = (col(s"c$j") + 1).cast(IntegerType)
    val dots = (0 until nSub).map(j =>
      element_at(typedLit(dotLut(j)), cIdx(j)))
      .foldLeft(element_at(typedLit(dotCoarse), bIdx))(_ + _)
    val cross = (0 until nSub).map(j =>
      element_at(element_at(typedLit(crossLut(j)), bIdx), cIdx(j))).reduce(_ + _)
    val nsum = (0 until nSub).map(j =>
      element_at(typedLit(nrmLut(j)), cIdx(j))).reduce(_ + _)
    val norm = element_at(typedLit(nrmCoarse), bIdx) + lit(2.0) * cross + nsum
    coded
      .where(col("vec_id") =!= queryId && col("bucket").isin(probes: _*))
      .select(col("vec_id"), col("bucket"),
        (dots / (lit(qNorm) * sqrt(norm))).as("adc_cosine"),
        cosine(col("v_orig"), typedLit(qv)).as("exact_cosine"))
      .orderBy(col("adc_cosine").desc, col("vec_id"))
      .limit(topK)
  }

  def ivfPqTopK(
      embeddings: DataFrame, queryId: Long = 0L, topK: Int = 10,
      nCoarse: Int = 16, nProbe: Int = 4, nSub: Int = 4, k: Int = 16,
      iterations: Int = 3, sampleCap: Int = 4096): DataFrame = {
    val (model, res) =
      ivfPqTrainRes(embeddings, nCoarse, nSub, k, iterations, sampleCap)
    val coded = pqEncodeWith(model.books, res, nSub)
    ivfPqSearch(model, coded, embeddings, queryId, topK, nProbe)
  }

  def ivfTopK(
      embeddings: DataFrame, queryId: Long = 0L, k: Int = 10,
      nBuckets: Int = 16, nProbe: Int = 4): DataFrame = {
    // ONE training pass; assignment and probing share the centroid table
    val cents = trainCentroids(embeddings, nBuckets)
    val assigned = assignBucketsWith(embeddings, cents)
    val e = prepared(embeddings)
    val q = e.where(col("vec_id") === queryId).select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("bucket"), cosine(col("cv"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("bucket").asc)
      .limit(nProbe)
      .select(col("bucket"))
    assigned
      .join(broadcast(probes), "bucket") // partition-pruning shape at scale
      .crossJoin(broadcast(q))
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF recall/nProbe TUNING CURVE (the sweep every production ANN
    * deploy runs before freezing its probe budget): one training pass,
    * one assignment pass, then for each rung r ∈ {1,2,4,8} the top-k from
    * the r closest buckets is compared to the exact top-k — emitting
    * (n_probe, n_candidates, n_hits, recall@k). The per-rung loop is the
    * sanctioned bounded driver pattern (4 actions over pruned candidate
    * sets; at scale each rung reads ~r/nBuckets of the corpus via the
    * bucket partition key). recall = n_hits/k is one exact-int division.
    */
  def ivfRecallSweep(
      embeddings: DataFrame, queryId: Long = 0L, k: Int = 10,
      nBuckets: Int = 16, rungs: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val spark = embeddings.sparkSession
    val cents = trainCentroids(embeddings, nBuckets)
    // the assignment projection (nBuckets cosines per row) runs ONCE and
    // is cached across the rung loop's 8 actions — without the persist
    // every rung's count + top-k re-scans the corpus (review r6-s3)
    val assigned = assignBucketsWith(embeddings, cents)
      .select(col("vec_id"), col("v"), col("bucket")).persist()
    val e = prepared(embeddings)
    val q = e.where(col("vec_id") === queryId).select(col("v").as("qv"))
      .persist() // 1 row; without it every action re-scans for the query
    val probeOrder = cents.crossJoin(broadcast(q))
      .select(col("bucket"), cosine(col("cv"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("bucket").asc)
      .collect().map(_.getLong(0)) // driver-small: nBuckets rows
    val exactTop = bruteForceTopK(embeddings, queryId, k)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet // k rows
    val rows = rungs.map { r =>
      val probed = probeOrder.take(r).toSeq
      val cand = assigned.where(col("bucket").isin(probed: _*))
        .where(col("vec_id") =!= queryId)
      val nCand = cand.count()
      val approx = cand.crossJoin(broadcast(q))
        .select(col("vec_id"), cosine(col("v"), col("qv")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(k).select(col("vec_id")).collect().map(_.getLong(0))
      val hits = approx.count(exactTop)
      IvfRecallRow(r.toLong, nCand, hits.toLong, hits.toDouble / k.toDouble)
    }
    // the result is built from driver-local rows — caches can release now
    assigned.unpersist()
    q.unpersist()
    spark.createDataFrame(rows).orderBy(col("n_probe"))
  }

  /** Embedding-truncation recall audit (the Matryoshka / MRL question:
    * "how much ANN quality do the first `dims` dimensions keep?"): exact
    * top-`k` by full-vector cosine vs top-`k` by prefix-`dims` cosine for
    * one query, joined into a recall@k curve (k = 1..topK). Both scans are
    * the brute-force baseline shape (broadcast query + TakeOrdered, zero
    * shuffle); the curve assembly is a ≤topK²-row broadcast join on
    * driver-small frames. Every cosine is the left-fold expression, and
    * recall = exact-int / k in one double division — bit-identical
    * cross-engine.
    */
  def truncationRecall(embeddings: DataFrame, queryId: Long = 0L,
      dims: Int = 16, topK: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    val e = prepared(embeddings)
    val q = e.where(col("vec_id") === queryId).select(col("v").as("qv"))
    def ranked(proj: Column => Column): DataFrame =
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= queryId)
        .select(col("vec_id"), cosine(proj(col("v")), proj(col("qv"))).as("c"))
        .orderBy(col("c").desc, col("vec_id").asc)
        .limit(topK)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("vec_id").asc)))
    val full = graft.util.Fs.materialize(ranked(identity).select(
      col("vec_id").as("full_vec_id"), col("rnk").as("frank")), topK)
    val trunc = graft.util.Fs.materialize(ranked(v => slice(v, 1, dims)).select(
      col("vec_id").as("trunc_vec_id"), col("rnk").as("trank")), topK)
    val pairs = full.join(trunc,
      col("full_vec_id") === col("trunc_vec_id"))
    val ks = spark.range(1, topK + 1).select(col("id").cast(IntegerType).as("k"))
    val overlap = ks.crossJoin(broadcast(pairs))
      .where(col("frank") <= col("k") && col("trank") <= col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("overlap"))
    ks.join(broadcast(full), col("frank") === col("k"))
      .join(broadcast(trunc), col("trank") === col("k"))
      .join(broadcast(overlap), Seq("k"), "left")
      .select(col("k"), col("full_vec_id"), col("trunc_vec_id"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        (coalesce(col("overlap"), lit(0L)).cast(DoubleType) / col("k"))
          .as("recall"))
      .orderBy(col("k"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick `k` results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)` — the diversity-aware
    * selection every retrieval-augmented pipeline runs after ANN.
    *
    * Scale split: the DISTRIBUTED part is the exact top-`poolSize`
    * relevance scan (broadcast query vector + TakeOrderedAndProject — the
    * sim_cosine_brute shape, linear, zero shuffle) plus one broadcast
    * self-join computing the poolSize² pairwise similarities; the greedy
    * loop then runs on the driver over the collected pool — O(k·poolSize)
    * on ~32 rows, the sanctioned codebook/IVF-centroid pattern (MMR is
    * sequential by definition; at 100 TB the pool stays this size while
    * the scan shrinks to an ANN probe).
    *
    * Every float is cross-engine deterministic: relevance and pairwise
    * sims come from the left-fold [[cosine]] (bit-equal to DuckDB
    * list_sum), max over the selected set is exact, and the driver applies
    * the same `0.5·rel − 0.5·ms` ops the unrolled SQL oracle does. Rank 1
    * reports score = raw relevance (no penalty term yet).
    */
  def mmrRerank(embeddings: DataFrame, queryId: Long = 0L,
      poolSize: Int = 32, k: Int = 8, lambda: Double = 0.5): DataFrame = {
    val spark = embeddings.sparkSession
    val e = prepared(embeddings)
    val q = e.where(col("vec_id") === queryId).select(col("v").as("qv"))
    // one scan feeds both the collect and the self-join
    val pool = graft.util.Fs.materialize(e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("v"), cosine(col("v"), col("qv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(poolSize), poolSize)
    val pairsDf = pool.select(col("vec_id").as("ia"), col("v").as("va"))
      .crossJoin(broadcast(pool.select(col("vec_id").as("ib"), col("v").as("vb"))))
      .where(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"), cosine(col("va"), col("vb")).as("cs"))
    val poolRows = pool.select(col("vec_id"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    require(poolRows.length >= k,
      s"MMR needs a pool of at least k=$k candidates, got ${poolRows.length}")
    val sims = pairsDf.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    var selected = Vector.empty[(Int, Long, Double, Double, Double)]
    var chosen = Set.empty[Long]
    for (step <- 1 to k) {
      val scored = poolRows.iterator
        .filter { case (id, _) => !chosen.contains(id) }
        .map { case (id, rel) =>
          if (step == 1) (id, rel, 0.0, rel)
          else {
            val ms = chosen.iterator.map(s => sims((id, s))).max
            (id, rel, ms, lambda * rel - (1.0 - lambda) * ms)
          }
        }.toVector
      // explicit fold instead of minBy(-score): score DESC, vec_id ASC,
      // with exact double comparison (the SQL ORDER BY semantics)
      val best = scored.reduceLeft { (a, b) =>
        if (b._4 > a._4 || (b._4 == a._4 && b._1 < a._1)) b else a
      }
      selected :+= ((step, best._1, best._2, best._3, best._4))
      chosen += best._1
    }
    import spark.implicits._
    selected.toDF("rank", "vec_id", "relevance", "max_sim", "score")
      .select(col("rank").cast(IntegerType).as("rank"), col("vec_id"),
        col("relevance"), col("max_sim"), col("score"))
      .orderBy(col("rank"))
  }
}
