package graft

import org.apache.spark.sql.SparkSession

/** Full-registry per-decade scaling sweep (r5 VERDICT #2): every query in
  * [[SparkEntry.queries]] timed at the base dir, the 10x dir and the 100x
  * dir, each decade on a FRESH SparkContext (the r5 in-bench scaling block
  * showed a session carrying 128 queries' worth of state-store threads and
  * GC debt inflating two exponents to ~1.07 that measure 0.35/0.72 clean).
  *
  * Protocol mirrors the r5 TimeQ decade table: min of cold/warm per
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
  def main(args: Array[String]): Unit = {
    val dirs = Seq(
      "base" -> sys.env.getOrElse("SWEEP_BASE", "/root/testdata/sf0.1"),
      "x10" -> sys.env.getOrElse("SWEEP_10X", "/root/repo/target/testdata_10x"),
      "x100" -> sys.env.getOrElse("SWEEP_100X", "/root/repo/target/testdata_100x"),
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
    val skips: Set[(String, String)] =
      sys.env.getOrElse("SWEEP_SKIP", "").split(',').filter(_.nonEmpty)
        .map { tok =>
          tok.split('@') match {
            case Array(q, d) => (q, d)
            case Array(q) => (q, "*")
            case _ => (tok, "*")
          }
        }.toSet
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val progress = java.nio.file.Paths.get("target/scalesweep.jsonl")
    java.nio.file.Files.createDirectories(progress.getParent)
    def f3(v: Double) =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // name -> dirLabel -> seconds (-1 on failure)
    val acc = scala.collection.mutable.Map.empty[String, Map[String, Double]]
    def freshSession(): SparkSession = {
      SparkSession.getActiveSession.foreach(_.stop())
      GraftSession.local()
    }
    dirs.foreach { case (label, dir) =>
      // fresh context per decade: stop-the-world between dirs so no decade
      // inherits the previous one's executor pools / state-store threads
      var spark = freshSession()
      // DECADE WARM-UP (r6 lesson): the first few queries of a fresh
      // context absorb codegen compilation, C2 tiers and the dir's parquet
      // footer first-reads — a6_outer_join_align measured 24.4 s at x10
      // (first-in-decade) vs 4.4 s at x100 (after this warm-up was the
      // norm). One untimed scan+agg of the two big tables per decade pays
      // those one-off costs before any timed point.
      try {
        Seq("lineitem", "events").foreach { tbl =>
          spark.read.parquet(s"$dir/$tbl.parquet")
            .groupBy().count().write.mode("overwrite").format("noop").save()
        }
        // one real query untimed: wakes up codegen + whole-stage pipelines
        names.headOption.foreach(n =>
          SparkEntry.queries(n)(spark, dir)
            .write.mode("overwrite").format("noop").save())
      } catch { case _: Throwable => () }
      names.foreach { n =>
        // an executor-thread OOM kills the local SparkContext; without this
        // check one dying query zombies every query after it (r6 lesson:
        // stream_sessionize's x100 OOM took 32 queries down with it)
        if (spark.sparkContext.isStopped) spark = freshSession()
        val skipped = skips.contains((n, label)) || skips.contains((n, "*"))
        val sec =
          if (skipped) -2.0
          else try {
            (1 to runs).map { _ =>
              val t0 = System.nanoTime()
              SparkEntry.queries(n)(spark, dir)
                .write.mode("overwrite").format("noop").save()
              (System.nanoTime() - t0) / 1e9
            }.min
          } catch {
            case e: Throwable =>
              System.err.println(s"SWEEP FAIL $n @ $label: ${e.getMessage}")
              -1.0
          }
        acc(n) = acc.getOrElse(n, Map.empty) + (label -> sec)
        java.nio.file.Files.writeString(progress,
          s"""{"query":"$n","dir":"$label","sec":${f3(sec)}}""" + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        println(f"SWEEP $label%-5s $n%-34s ${f3(sec)}%8s s")
      }
      spark.stop()
    }
    def expn(a: Option[Double], b: Option[Double]): String = (a, b) match {
      case (Some(x), Some(y)) if x > 0 && y > 0 =>
        f3(math.log10(math.max(y, 1e-3) / math.max(x, 1e-3)))
      case _ => "null"
    }
    val rows = names.sorted.map { n =>
      val m = acc.getOrElse(n, Map.empty)
      val b = m.get("base").filter(_ > 0)
      val t10 = m.get("x10").filter(_ > 0)
      val t100 = m.get("x100").filter(_ > 0)
      s"""  "$n":{"base_sec":${b.map(f3).getOrElse("null")},"x10_sec":${t10
          .map(f3)
          .getOrElse("null")},"x100_sec":${t100.map(f3).getOrElse(
          "null")},"e1":${expn(b, t10)},"e2":${expn(t10, t100)}}"""
    }
    val out = rows.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/scalesweep.json"), out)
    println(s"SWEEP DONE ${names.size} queries x ${dirs.size} dirs -> target/scalesweep.json")
  }
}
