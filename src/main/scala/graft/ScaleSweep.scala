package graft

import org.apache.spark.sql.SparkSession

/** Full-registry per-decade scaling sweep (r5 VERDICT #2): every query in
  * [[SparkEntry.queries]] timed at the base dir, the 10x dir and the 100x
  * dir, each decade one [[decade]] pass on a FRESH SparkContext (the r5
  * in-bench scaling block showed a session carrying 128 queries' worth of
  * state-store threads and GC debt inflating two exponents to ~1.07 that
  * measure 0.35/0.72 clean). Bench's 10x block is one more [[decade]] pass.
  *
  * Protocol mirrors the r5 TimeQ decade table: min over `runs` per
  * (query, dir); JIT warmth carries across queries inside a decade, which
  * is fine — the quantity of interest is the RATIO between decades, and
  * both numerator and denominator are steady-state minima.
  *
  * Output: one JSONL progress line per (query, dir) appended to
  * `target/scalesweep.jsonl` immediately (a crash keeps partial results),
  * then a final exponent table `target/scalesweep.json` with per-query
  * e1 = log10(t10/t1), e2 = log10(t100/t10). A query that throws records
  * sec = -1 and null exponents (never a truncated elapsed time).
  *
  * Usage: `runMain graft.ScaleSweep [query ...]` (default: all);
  * env SWEEP_BASE/SWEEP_10X/SWEEP_100X override the three dirs,
  * SWEEP_RUNS the per-point run count (default 2).
  */
object ScaleSweep {

  /** Scaling exponent log10(t_big / t_small) — e <= 1 is at-worst-linear;
    * NaN when either side failed. */
  private[graft] def exponent(small: Double, big: Double): Double =
    if (small > 0 && big > 0) math.log10(math.max(big, 1e-3) / math.max(small, 1e-3))
    else Double.NaN

  private def freshSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    GraftSession.local()
  }

  /** One decade: `names` over the tables in `dir` on a fresh context, each
    * point the min over `runs` ([[Bench.best]], −1 when a run threw).
    * `onPoint` sees each point as soon as it is measured. The context is
    * stopped on return.
    */
  private[graft] def decade(dir: String, names: Seq[String], runs: Int,
      onPoint: (String, Double) => Unit = (_, _) => ()): Seq[(String, Double)] = {
    var spark = freshSession()
    // DECADE WARM-UP (r6 lesson): the first few queries of a fresh
    // context absorb codegen compilation, C2 tiers and the dir's parquet
    // footer first-reads — a6_outer_join_align measured 24.4 s at x10
    // (first-in-decade) vs 4.4 s at x100 (after this warm-up was the
    // norm). One untimed scan+agg of the two big tables per decade pays
    // those one-off costs before any timed point, then one real query
    // untimed wakes up codegen + whole-stage pipelines.
    Seq("lineitem", "events").foreach { tbl =>
      Bench.seconds(s"warm-up $tbl")(
        spark.read.parquet(s"$dir/$tbl.parquet").groupBy().count())
    }
    names.headOption.foreach(Bench.query(spark, dir, _))
    val points = names.map { n =>
      // an executor-thread OOM kills the local SparkContext; without this
      // check one dying query zombies every query after it (r6 lesson:
      // stream_sessionize's x100 OOM took 32 queries down with it)
      if (spark.sparkContext.isStopped) spark = freshSession()
      val sec = Bench.best(runs)(Bench.query(spark, dir, n))
      onPoint(n, sec)
      n -> sec
    }
    spark.stop()
    points
  }

  def main(args: Array[String]): Unit = {
    val dirs = Seq(
      "base" -> sys.env.getOrElse("SWEEP_BASE", "/root/testdata/sf0.1"),
      "x10" -> sys.env.getOrElse("SWEEP_10X", "target/testdata_10x"),
      "x100" -> sys.env.getOrElse("SWEEP_100X", "target/testdata_100x"),
    ).filter { case (_, d) =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(d, "documents.parquet"))
    }
    val runs = sys.env.getOrElse("SWEEP_RUNS", "2").toInt
    // SWEEP_SKIP: comma-separated `query@dirLabel` (or bare `query`) tokens
    // for points excluded BY DOCUMENTED COST CONTRACT — e.g.
    // sim_knn_graph@x100: fixed-cardinality blocking is Θ(N²) by its own
    // scaladoc (measured e≈1.9 at 10×), so the 100× point is hours of
    // wall-clock proving a contract the 10× point already demonstrates.
    // Skipped points journal sec=-2 so reports can distinguish
    // "skipped by contract" from "crashed" (-1).
    val skips = sys.env.getOrElse("SWEEP_SKIP", "").split(',').toSet
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val progress = java.nio.file.Paths.get("target/scalesweep.jsonl")
    java.nio.file.Files.createDirectories(progress.getParent)
    def f3(v: Double) =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // name -> dirLabel -> seconds (-1 on failure, -2 skipped)
    val acc = scala.collection.mutable.Map.empty[String, Map[String, Double]]
    dirs.foreach { case (label, dir) =>
      def record(n: String, sec: Double): Unit = {
        acc(n) = acc.getOrElse(n, Map.empty) + (label -> sec)
        java.nio.file.Files.writeString(progress,
          s"""{"query":"$n","dir":"$label","sec":${f3(sec)}}""" + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        println(f"SWEEP $label%-5s $n%-34s ${f3(sec)}%8s s")
      }
      val (skipped, timed) = names.partition(n => skips(n) || skips(s"$n@$label"))
      skipped.foreach(record(_, -2.0))
      decade(dir, timed, runs, record)
    }
    def cell(v: Option[Double]) = v.map(f3).getOrElse("null")
    def expn(a: Option[Double], b: Option[Double]) =
      cell(for (x <- a; y <- b) yield exponent(x, y))
    val rows = names.sorted.map { n =>
      val m = acc.getOrElse(n, Map.empty)
      val b = m.get("base").filter(_ > 0)
      val t10 = m.get("x10").filter(_ > 0)
      val t100 = m.get("x100").filter(_ > 0)
      s"""  "$n":{"base_sec":${cell(b)},"x10_sec":${cell(t10)},"x100_sec":${cell(t100)},"e1":${expn(b, t10)},"e2":${expn(t10, t100)}}"""
    }
    val out = rows.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/scalesweep.json"), out)
    println(s"SWEEP DONE ${names.size} queries x ${dirs.size} dirs -> target/scalesweep.json")
  }
}
