package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Time selected queries in isolation and profile their stages:
  * `SPARK_GRAFT_SF_DIR=... runMain graft.TimeQ [warmRuns] <query> [query...]`
  * — a leading integer is the warm-run count (default 1), everything else
  * is query names. Per query: one cold run, `warmRuns − 1` more, then a
  * last run with a stage listener attached (guide §1: decide whether the
  * time goes to shuffle, compute, or scheduling before touching the plan —
  * local mode has no UI in this harness, so this listener is the Stages
  * tab). Prints `TIMEQ name cold= warm=` (−1 for a run that threw, and the
  * next query still runs) and the last run's `STAGEPROF` block: one row
  * per stage, longest first — wall ms, summed task ms, CPU, GC,
  * deserialize, task count, shuffle read/write bytes and the callsite with
  * its job — plus the job count. A constant-dominated query shows many
  * short stages (scheduling floor), a data-bound one a few stages holding
  * all the task time.
  */
object TimeQ {
  private final case class St(wallMs: Long, taskMs: Long, nTasks: Int,
    shRead: Long, shWrite: Long, site: String,
    gcMs: Long, deserMs: Long, cpuNs: Long)

  def main(args: Array[String]): Unit = {
    val (warm, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(w) => (w, args.drop(1).toSeq)
      case None => (1, args.toSeq)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    names.foreach { name =>
      val cold = Bench.query(spark, sfDir, name)
      (1 until warm).foreach(_ => Bench.query(spark, sfDir, name))
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
      spark.sparkContext.addSparkListener(listener)
      val sec = Bench.query(spark, sfDir, name)
      spark.sparkContext.removeSparkListener(listener)
      // listener bus is async; give the final stage events a moment to land
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val all = stages.asScala.toVector
      println(f"TIMEQ $name%-30s cold=$cold%.3f warm=$sec%.3f")
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
