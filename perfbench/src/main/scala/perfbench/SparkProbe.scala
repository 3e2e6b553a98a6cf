package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class StageRec(name: String, submitMs: Long, completeMs: Long, tasks: Int,
    runMs: Long, cpuMs: Double, gcMs: Long, deserMs: Long, shReadBytes: Long, shWriteBytes: Long) {
  def wallMs: Long = completeMs - submitMs
}

/** What Spark did during one benchmark operation. */
final case class SparkOp(wallMs: Long, jobs: Int, stages: Seq[StageRec], planMs: Double) {
  /** Wall time during which no stage was running: driver-side work. */
  def driverOnlyMs(opStartMs: Long): Double = {
    val opEnd = opStartMs + wallMs
    val iv = stages.map(s => (math.max(s.submitMs, opStartMs), math.min(s.completeMs, opEnd)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, wallMs - covered).toDouble
  }
}

/** SparkListener + QueryExecutionListener for the traced run. Registered
  * only when tracing, read after each operation once the listener bus has
  * drained.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val jobs = new AtomicInteger(0)
  private val planMs = new AtomicLong(0L)

  override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.executorDeserializeTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten))
    ()
  }

  // analysis + optimization + planning, from QueryExecution.tracker
  private def addPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    planMs.addAndGet(Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum)
    ()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPlan(qe)

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def reset(): Unit = { stages.clear(); jobs.set(0); planMs.set(0L) }

  /** Run `body` as one operation and return what Spark did during it. */
  def measure[T](body: => T): (T, SparkOp, Long) = {
    BusDrain(spark.sparkContext)
    reset()
    val startMs = System.currentTimeMillis()
    val out = body
    val wall = System.currentTimeMillis() - startMs
    BusDrain(spark.sparkContext)
    (out, SparkOp(wall, jobs.get(), stages.asScala.toVector, planMs.get().toDouble), startMs)
  }
}
