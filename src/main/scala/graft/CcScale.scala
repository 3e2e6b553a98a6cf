package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the connected-components paths at OVER-CAP scale
  * (r9 VERDICT #2): the driver union-find fast path carries every corpus
  * decade because contracted dup-pair graphs stay small, which left the
  * distributed large-star/small-star valve — the path a 10⁹-doc corpus
  * takes — with spec coverage but no scale measurement. This generates a
  * deterministic dup-shaped graph (no RNG: star clusters of 5 nodes — the
  * near-clique shape of real dup clusters — plus one 100k-node chain for
  * adversarial diameter) and times `Dedup.connectedComponents` at a chosen
  * cap.
  *
  * Usage: `runMain graft.CcScale [nEdges] [driverEdgeCap] [chainLen] [shape]`
  *   nEdges default 20e6 (4× the 5M cap), cap default 0 (forces the
  *   distributed loop); pass a cap ≥ nEdges to time the driver fast path
  *   on the same graph where it fits. chainLen (default 1000) sets the
  *   diameter component: rounds grow ~log2(chainLen) — MEASURED at
  *   11/15/18/21 rounds for d=10^3..10^6 at fixed 1M edges, and exactly
  *   2 rounds on the pure clique shape (SCALESWEEP_1000x_r11.jsonl) —
  *   the per-ROUND cost
  *   scales with edges, the round COUNT with diameter, and a real dup
  *   graph sits at diameter 2-3 (near-cliques), so the default keeps the
  *   measurement representative while still exercising multi-round
  *   convergence. shape = `star` (4 edges per 5-node cluster — already
  *   minimal, measures pure loop cost) or `clique` (all 10 pairs per
  *   5-node cluster — the shape a verified near-dup pair list actually
  *   has, and what the local-contraction pass collapses).
  */
object CcScale {
  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.flatMap(_.toLongOption).getOrElse(20000000L)
    val cap = args.lift(1).flatMap(_.toLongOption).getOrElse(0L)
    val chainArg = args.lift(2).flatMap(_.toLongOption).getOrElse(1000L)
    val shape = args.lift(3).getOrElse("star")
    val spark = GraftSession.local()
    val chain = chainArg
    val clusterE = shape match {
      case "clique" =>
        // all C(5,2)=10 pairs of each 5-node cluster — the verified
        // near-dup pair-list shape; round DOWN to whole cliques
        val nClusters = (nEdges - chain) / 10
        val iArr = array(Seq(0, 0, 0, 0, 1, 1, 1, 2, 2, 3).map(lit(_)): _*)
        val jArr = array(Seq(1, 2, 3, 4, 2, 3, 4, 3, 4, 4).map(lit(_)): _*)
        spark.range(nClusters * 10).select(
          (expr("(id div 10) * 5") +
            element_at(jArr, pmod(col("id"), lit(10L)).cast("int") + 1))
            .as("doc_a"),
          (expr("(id div 10) * 5") +
            element_at(iArr, pmod(col("id"), lit(10L)).cast("int") + 1))
            .as("doc_b"))
      case _ =>
        // stars: edge i links (i div 4)*5 + 1 + (i mod 4) -> (i div 4)*5
        spark.range(nEdges - chain).select(
          (expr("(id div 4) * 5") + 1 + pmod(col("id"), lit(4L))).as("doc_a"),
          expr("(id div 4) * 5").as("doc_b"))
    }
    // one long chain on negative ids: -(k+1) -> -(k+2)
    val chainE = spark.range(chain).select(
      (-col("id") - 1).as("doc_a"), (-col("id") - 2).as("doc_b"))
    val edges = clusterE.unionAll(chainE)
    // the graph is deterministic, so its census is too — a timing row from
    // a run that got the labels WRONG is worse than no row (the
    // self-enforcing-diagnostic discipline): stars form ceil(E/4) clusters
    // (a trailing partial group is still one component), the chain adds 1
    val (expComponents, expNodes) =
      if (shape == "clique") {
        val nClusters = (nEdges - chain) / 10
        (nClusters + 1, nClusters * 5 + chain + 1)
      } else {
        val full = (nEdges - chain) / 4
        val rem = (nEdges - chain) % 4
        ((nEdges - chain + 3) / 4 + 1,
          full * 5 + (if (rem > 0) rem + 1 else 0) + chain + 1)
      }
    val runs = (1 to 2).map { _ =>
      val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
      val t0 = System.nanoTime()
      val labels = graft.ops.Dedup.connectedComponents(
        edges, driverEdgeCap = cap, roundsOut = Some(rounds))
      val r = labels.agg(count(lit(1)), countDistinct(col("cluster_id")))
        .head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"CCSCALE shape=$shape edges=$nEdges cap=$cap chain=$chain " +
        f"nodes=${r.getLong(0)} components=${r.getLong(1)} " +
        f"rounds=${rounds.get()} sec=$sec%.3f")
      require(r.getLong(0) == expNodes && r.getLong(1) == expComponents,
        s"census mismatch: got (${r.getLong(0)}, ${r.getLong(1)}), " +
          s"expected ($expNodes, $expComponents) — labels are wrong, " +
          "do not record this timing")
      sec
    }
    println(f"CCSCALE MIN shape=$shape edges=$nEdges cap=$cap chain=$chain sec=${runs.min}%.3f")
    spark.stop()
  }
}
