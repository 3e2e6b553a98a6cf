package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.disagg.{Disaggregate, DisaggOutput, TsFrame}

/** The driver I/O boundary of `Disaggregate.series`, called from the
  * benchmark so the traced single call times the engine's own code: the
  * collect into a `TsFrame` and the output frame build. Both functions
  * are `private[graft]`, hence this package.
  */
object EngineIO {
  def collect(df: DataFrame, role: String): TsFrame =
    Disaggregate.collectTsFrame(df, "ts", role)

  /** The output frame `Disaggregate.series` builds for an estimate. */
  def toDataFrame(spark: SparkSession, ts: IndexedSeq[LocalDate], values: Array[Double]): DataFrame =
    Disaggregate.toDataFrame(spark,
      DisaggOutput(ts, values, "value", None, None, None, None, None, Nil), "ts")
}
