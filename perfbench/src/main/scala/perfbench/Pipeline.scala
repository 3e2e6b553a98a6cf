package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry

/** pipeline: registry queries over the fixed data drop in perfbench/data,
  * one client in a closed loop. A fingerprinting pass (the output check)
  * and three untimed passes to the `noop` sink warm the JVM, then timed passes
  * write to the `noop` sink.
  */
object Pipeline {
  /** One query per family that fits the run time, and the plain-SQL floor. */
  val queries: Seq[String] = Seq(
    "stream_window_counts",
    "dedup_minhash_lsh",
    "text_boilerplate_strip",
    "join_asof_nearest",
    "a1_scan_project_filter")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "a1" | "a8" | "window" => "sql"
    case f => f
  }

  def families: Seq[String] = queries.map(family).distinct

  private def runNoop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Row count and order-independent fingerprint: the sum of the rows'
    * xxhash64 as DECIMAL(38,0).
    */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val Line = """\s*"([a-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"fingerprint"\s*:\s*"(-?\d+)"\s*\}\s*,?\s*""".r
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).toArray(new Array[String](0)).collect {
      case Line(q, rows, fp) => q -> (rows.toLong, fp)
    }.toMap
  }

  def run(ctx: Ctx): Unit = {
    val dir = ctx.data.get
    // a warm set-up is one query, so five are cheap and steady the median
    ctx.setup(reps = 5) { spark => runNoop(SparkEntry.queries("a1_scan_project_filter")(spark, dir)) }
    val spark = ctx.spark
    ctx.mark("set-up")

    val got = queries.map { q =>
      ctx.attempted += 1
      q -> (try fingerprint(SparkEntry.queries(q)(spark, dir))
        catch { case e: Exception => ctx.fail(s"$q: $e"); ctx.failed += 1; (-1L, "error") })
    }
    val want = readExpected(ctx.expected.get)
    got.foreach { case (q, fp) =>
      if (!want.get(q).contains(fp)) {
        ctx.fail(s"$q: rows/fingerprint $fp, expected ${want.get(q)}")
        ctx.failed += 1
      }
    }

    /** One pass over the list: per-query ms, in list order, and the pass ms. */
    def timedPass(measure: String => Unit): (Seq[Double], Double) = {
      val t0 = System.nanoTime()
      val perQuery = queries.map { q =>
        val t1 = System.nanoTime()
        ctx.attempted += 1
        try measure(q)
        catch { case e: Exception => ctx.fail(s"$q: $e"); ctx.failed += 1 }
        Stats.ms(t1)
      }
      (perQuery, Stats.ms(t0))
    }
    def untraced(q: String): Unit = runNoop(SparkEntry.queries(q)(spark, dir))
    // the fingerprint pass plans an aggregate over each query; untimed
    // passes to the noop sink warm the plans that are timed. Pass times keep
    // falling for three or four passes after the fingerprint pass, so three
    // are untimed.
    (1 to 3).foreach(_ => timedPass(untraced))
    ctx.mark("check and warm-up")

    if (!ctx.traced) {
      val passes = mutable.ArrayBuffer.empty[(Seq[Double], Double)]
      val wall = ctx.loop(ctx.seconds)(passes += timedPass(untraced))
      // geometric mean of the queries' median times: a slowdown of any one
      // query moves it by the same share, however fast the query is
      val perQuery = queries.indices.map(i => Stats.median(passes.map(_._1(i)).toSeq))
      ctx.metrics("p50_ms") = Stats.geomean(perQuery)
      ctx.metrics("rate_per_s") = passes.map(_._1.size).sum / wall
      System.err.println(s"perfbench: ${passes.size} passes, query ms " +
        passes.map(_._1.map(t => f"$t%.0f").mkString(" ")).mkString(" | "))
    } else {
      val trace = ctx.trace
      val probe = new SparkProbe(spark)
      val ops = mutable.ArrayBuffer.empty[(String, SparkOp, Long)]
      val untracedPasses = mutable.ArrayBuffer.empty[Double]
      val tracedPasses = mutable.ArrayBuffer.empty[(Seq[Double], Double)]
      // untraced and traced passes alternate, so both see the same JIT state
      ctx.loop(ctx.seconds) {
        untracedPasses += timedPass(untraced)._2
        probe.register()
        tracedPasses += timedPass { q =>
          trace.newRequest()
          val (_, op, start) = probe.measure(trace.span("bench", "op")(
            trace.span("pipeline", s"q.$q")(untraced(q))))
          ops += ((q, op, start))
        }
        probe.unregister()
      }
      SparkLayer.scheduler(ctx, ops.map(o => (o._2, o._3)).toSeq)
      SparkLayer.tasks(ctx, ops.map(_._2).toSeq)
      val m = ctx.metrics
      val nPasses = tracedPasses.size.toDouble
      m("pipeline.total_s") = Stats.median(untracedPasses.toSeq) / 1000.0
      queries.indices.foreach(i =>
        m(s"q.${queries(i)}_s") = Stats.median(tracedPasses.map(_._1(i)).toSeq) / 1000.0)
      families.foreach { f =>
        val fo = ops.filter(o => family(o._1) == f)
        m(s"pipeline.${f}_s") = queries.filter(family(_) == f).map(q => m(s"q.${q}_s")).sum
        m(s"pipeline.${f}_jobs") = fo.map(_._2.jobs).sum / nPasses
        m(s"pipeline.${f}_plan_ms") = fo.map(_._2.planMs).sum / nPasses
      }
      m("trace.overhead_pct") =
        (Stats.median(tracedPasses.map(_._2).toSeq) / Stats.median(untracedPasses.toSeq) - 1.0) * 100.0
    }
  }
}
