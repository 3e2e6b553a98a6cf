package graft

/** Generates QUERIES.md — the authoritative query inventory — from
  * `Queries.table` itself (r5 VERDICT #8: COVERAGE.md/README counts were
  * hand-maintained and went stale twice). One row per registered query:
  * name, the first scaladoc line of its implementing method (parsed from
  * the checked-in sources), oracle kind, and the test files that mention
  * it. Regenerated by every full `graft.Verify` run, so the file can never
  * drift from the registration table; hand-edited counts are gone.
  */
object QueryIndex {

  private def walk(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    if (!java.nio.file.Files.exists(dir)) return Nil
    val s = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    } finally s.close()
  }

  private def readFile(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)

  /** First sentence of the scaladoc block immediately preceding
    * `def <sym>` / `val <sym>` in any main source file.
    *
    * Implemented with index scanning, not a tempered-dot regex: Java's
    * regex engine recurses once per matched character inside
    * `(?:[^*]|\*(?!/))*`, so a scaladoc block past a few thousand chars
    * threw StackOverflowError — and because findAllMatchIn walks the whole
    * file, ONE long block anywhere poisoned every lookup touching that
    * file (this blanked all 133 doc cells after r6 added long cost-contract
    * scaladocs). Locating `def sym` first and walking backwards to its
    * attached `/** … */` is linear and block-length-independent.
    */
  private def docOf(sources: Seq[(String, String)], sym: String): Option[String] = {
    val defRe = (s"""(?:def|val)\\s+${java.util.regex.Pattern.quote(sym)}\\b""").r
    val modifiers = """(?s)\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|lazy\s+|implicit\s+)*"""
    sources.iterator.flatMap { case (_, text) =>
      defRe.findAllMatchIn(text).flatMap { m =>
        val end = text.lastIndexOf("*/", m.start)
        val start = if (end < 0) -1 else text.lastIndexOf("/**", end)
        // the opener must be a real scaladoc opener whose FIRST close is
        // this end (a plain /* … */ between a scaladoc and the def would
        // otherwise make us splice doc + code into a garbage cell), and
        // non-empty (/**/ has start+3 > end)
        if (start < 0 || start + 3 > end ||
          text.indexOf("*/", start + 3) != end ||
          !text.substring(end + 2, m.start).matches(modifiers)) None
        else Some(text.substring(start + 3, end))
      }
    }.nextOption().map { raw =>
      val cleaned = raw.linesIterator
        .map(_.trim.stripPrefix("*").trim)
        .filter(_.nonEmpty)
        .mkString(" ")
      // first sentence, capped for the table
      val stop = cleaned.indexOf(". ")
      val s = if (stop >= 0) cleaned.take(stop + 1) else cleaned
      if (s.length > 220) s.take(217) + "..." else s
    }
  }

  /** Resolve a table row's run function to the symbol whose scaladoc
    * describes the query: `fooBar _` → fooBar; a lambda → the first method
    * it calls.
    */
  private def targetSym(run: String): Option[String] = {
    val eta = """^\s*([A-Za-z0-9_.]+)\s+_\s*,""".r
    eta.findPrefixMatchOf(run) match {
      case Some(m) => Some(m.group(1).split('.').last)
      case None =>
        // lambda: pick the first method call that isn't a builder verb
        val call = """([A-Za-z][A-Za-z0-9_]*)\s*\(""".r
        call.findAllMatchIn(run).map(_.group(1))
          .find(m => !Set("col", "lit", "t", "s").contains(m))
    }
  }

  def generate(root: String = "."): String = {
    val mainSources = walk(java.nio.file.Paths.get(root, "src/main/scala"))
      .map(p => (p.getFileName.toString, readFile(p)))
    val testSources = walk(java.nio.file.Paths.get(root, "src/test/scala"))
      .map(p => (p.getFileName.toString, readFile(p)))
    val queriesSrc = mainSources.collectFirst {
      case (n, text) if n == "Queries.scala" => text
    }.getOrElse("")

    // the text after `Query("<name>",` in Queries.table: the row's run
    // function (a lambda may continue onto the next line)
    def runOf(name: String): Option[String] = {
      val at = queriesSrc.indexOf("Query(\"" + name + "\",")
      if (at < 0) None
      else Some(queriesSrc.substring(at + name.length + 9).take(200))
    }

    val names = Queries.table.map(_.name).sorted
    val rows = names.map { name =>
      // regex scaladoc extraction can StackOverflow on pathological
      // backtracking; a lost doc line must never lose the whole inventory
      val doc = try {
        runOf(name).flatMap(targetSym).flatMap(s => docOf(mainSources, s))
          .getOrElse("—")
      } catch { case _: Throwable => "—" }
      val tests = testSources.collect {
        case (file, text) if text.contains("\"" + name + "\"") => file
      }.distinct.sorted.mkString(", ")
      s"| `$name` | $doc | DuckDB value-exact | ${if (tests.isEmpty) "—" else tests} |"
    }
    "# Query inventory (generated — do not edit)\n\n" +
      "Generated by `graft.QueryIndex` from `Queries.table` on every full\n" +
      s"`graft.Verify` run. ${names.size} queries, each with a value-exact\n" +
      "DuckDB oracle.\n\n" +
      "| query | what it does | correctness gate | mentioned in tests |\n" +
      "|---|---|---|---|\n" +
      rows.mkString("\n") + "\n"
  }

  def write(root: String = "."): Unit = {
    val out = java.nio.file.Paths.get(root, "QUERIES.md")
    java.nio.file.Files.write(out,
      generate(root).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  def main(args: Array[String]): Unit = write()
}
