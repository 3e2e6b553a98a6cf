package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (fast local iteration;
    // the driver always passes exactly two args, so its behavior is fixed)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // raw disaggregated series for tools/reference_parity.py (the driver
    // gate reads the consistency views above; parity diffs ŷ itself).
    // Fixed path OUTSIDE outDir, under the working directory's target/:
    // anything under outDir is read back as a query result and would
    // surface as a spurious "no_oracle" row in the correctness file.
    val rawDir = "target/verify_raw"
    // Under a query filter, still refresh the raw dumps the filter names
    // (raw names share the disagg query names) so tools/reference_parity.py
    // never diffs a filtered run against stale outputs; warn about the rest.
    val raw = if (only.isEmpty) Queries.rawDisagg
      else Queries.rawDisagg.view.filterKeys(only).toMap
    if (only.nonEmpty && raw.size < Queries.rawDisagg.size)
      System.err.println(s"[verify] query filter active: ${Queries.rawDisagg.size - raw.size} " +
        s"verify_raw entries NOT refreshed (stale for reference_parity.py)")
    raw.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$rawDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] raw/$name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // regenerate the query inventory on full runs (QueryIndex scaladoc);
    // never fail the correctness dump over a docs-generation hiccup
    if (only.isEmpty)
      try QueryIndex.write()
      catch { case e: Throwable =>
        System.err.println(s"[verify] QUERIES.md generation failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
      }
    spark.stop()
  }
}
