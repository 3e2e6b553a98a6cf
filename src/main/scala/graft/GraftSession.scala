package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory for graft's mains and specs.
  *
  * Only the core count varies between callers. The settings that hold for
  * the whole JVM (session time zone UTC, UI off, the shuffle bypass-merge
  * threshold) are not set here: build.sbt's `javaOptions` passes them as
  * `-Dspark.*` system properties to every JVM sbt forks (`runMain`, the
  * test fork, the benchmark's launch), and SparkConf reads them from there.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core and WARN logging.
    * Returns the active session if one exists (getOrCreate semantics). */
  def local(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
