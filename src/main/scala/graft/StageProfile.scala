package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Per-stage timing/shuffle profile of one query run (guide §1: decide
  * whether the time goes to shuffle, compute, or scheduling before touching
  * the plan — local mode has no UI in this harness, so this listener is
  * the Stages tab): `SPARK_GRAFT_SF_DIR=... runMain graft.StageProfile
  * [warmRuns] <query> [query...]` — a leading integer is the warm-run
  * count (default 1), everything else is query names (r11 ADVICE: the
  * old doc showed the query first, which threw NumberFormatException).
  * Prints one row per stage of the LAST (warm) run,
  * newest first: wall ms, summed task ms, task count, shuffle read/write
  * bytes, and the callsite, plus the job count — a constant-dominated
  * query shows many short stages (scheduling floor), a data-bound one a
  * few stages holding all the task time.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val (warm, rest) = args.headOption.flatMap(a =>
      scala.util.Try(a.toInt).toOption) match {
      case Some(w) => (w, args.drop(1).toSeq)
      case None => (1, args.toSeq)
    }
    val names = if (rest.nonEmpty) rest else Seq("dedup_jaccard_prefix")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    final case class St(wallMs: Long, taskMs: Long, nTasks: Int,
      shRead: Long, shWrite: Long, site: String,
      gcMs: Long = 0L, deserMs: Long = 0L, cpuNs: Long = 0L)
    names.foreach { name =>
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      // stageId -> jobId + job description (set by Spark SQL to the SQL
      // execution's callsite) so a stage can be attributed to the job that
      // ran it — "which materialize/finalize job is this 10-second stage
      // in" was unanswerable from the callsite column alone (r12)
      val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          j.stageInfos.foreach(si =>
            stageJob.put(si.stageId, s"job${j.jobId} ${desc.take(60)}"))
          ()
        }
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
          val m = i.taskMetrics
          stages.add(St(wall, m.executorRunTime, i.numTasks,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            s"${i.name.take(40)} ${stageJob.getOrDefault(i.stageId, "")}",
            m.jvmGCTime, m.executorDeserializeTime, m.executorCpuTime))
          ()
        }
      }
      def run(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      (1 to warm).foreach(_ => run())   // eat JIT + staging caches
      spark.sparkContext.addSparkListener(listener)
      val sec = run()
      spark.sparkContext.removeSparkListener(listener)
      // listener bus is async; give the final stage events a moment to land
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val all = stages.asScala.toVector
      println(f"STAGEPROF $name wall=$sec%.3f s jobs=${jobs.get()} stages=${all.size} " +
        f"sumStageWall=${all.map(_.wallMs).sum / 1000.0}%.3f sumTask=${all.map(_.taskMs).sum / 1000.0}%.3f")
      all.sortBy(-_.wallMs).take(12).foreach { s =>
        println(f"  wall=${s.wallMs}%6d ms task=${s.taskMs}%7d ms cpu=${s.cpuNs / 1000000}%7d ms " +
          f"gc=${s.gcMs}%5d ms deser=${s.deserMs}%6d ms n=${s.nTasks}%3d " +
          f"shR=${s.shRead / 1024}%7d KiB shW=${s.shWrite / 1024}%7d KiB  ${s.site}")
      }
    }
    spark.stop()
  }
}
