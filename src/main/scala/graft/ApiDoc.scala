package graft

/** docs/API.md generator (VERDICT r12 #8): at 40+ operator files the
  * user's bottleneck is DISCOVERABILITY — which of the 335 SURVEY rows
  * is which function, in which file, gated how. This renders one index
  * table per SURVEY §2 section from the two sources of truth:
  *   - `SparkEntry.queries`/`oracleSql` (what the driver gates, and
  *     how), resolved to `file:line` of the implementing `def` by
  *     following the entry's `Object.method` reference into source;
  *   - SURVEY.md §2 rows (the full 335-row inventory, including the
  *     spec-gated library rows that have no query key).
  * `render()` is pure w.r.t. the repo tree, so ApiDocSpec can assert
  * the committed file matches a regeneration — the index cannot
  * silently lag the surface. Regenerate with:
  * {{{ sbt "runMain graft.ApiDoc" }}}
  */
object ApiDoc {
  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  private def sourceFiles(root: String): Seq[java.nio.file.Path] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(base)) return Seq.empty
    val out = Seq.newBuilder[java.nio.file.Path]
    java.nio.file.Files.walk(base).forEach { p =>
      if (p.toString.endsWith(".scala")) out += p
    }
    out.result().sortBy(_.toString)
  }

  /** `Object.method` → `path:line` of `def method` within a file whose
    * name is `Object.scala` (every operator object here is file-named);
    * falls back to any file defining the method uniquely.
    */
  private def defSites(): Map[String, String] = {
    val defRe = """^\s*(?:private\[[a-z]+\]\s+)?def\s+([A-Za-z0-9_]+)""".r
    (for {
      p <- sourceFiles("src/main/scala/graft")
      (line, i) <- read(p).split("\n", -1).zipWithIndex
      m <- defRe.findFirstMatchIn(line)
    } yield (p.getFileName.toString.stripSuffix(".scala"), m.group(1),
        s"${p.toString.replace(java.io.File.separatorChar, '/')}:${i + 1}"))
      .groupBy { case (obj, fn, _) => s"$obj.$fn" }
      .map { case (k, hits) => k -> hits.head._3 }
  }

  /** query key → `Object.method` parsed from SparkEntry's own source
    * (the map values are lambdas at runtime — the source is the only
    * place the reference survives).
    */
  private def queryImpls(entrySrc: String): Map[String, String] = {
    val body = entrySrc.split("def queries", 2).last.split("def oracleSql", 2).head
    val row = """"([a-z0-9_]+)"\s*->\s*([\s\S]*?)(?=\n\s*"[a-z0-9_]+"\s*->|\n\s*\)\s*\n)""".r
    val call = """([A-Z][A-Za-z0-9]*)\.([a-zA-Z0-9_]+)""".r
    row.findAllMatchIn(body).map { m =>
      val impl = call.findFirstMatchIn(m.group(2))
        .map(c => s"${c.group(1)}.${c.group(2)}").getOrElse("")
      m.group(1) -> impl
    }.toMap
  }

  private case class SurveyRow(section: String, id: String, gate: String)

  private def surveyRows(survey: String): Seq[SurveyRow] = {
    val sec = """### (§2\.\d+)""".r
    val row = """\| `([a-z0-9_/]+)`(?:/`([a-z0-9_]+)`)? \|""".r
    var current = ""
    survey.split("\n", -1).toSeq.flatMap { line =>
      sec.findFirstMatchIn(line).foreach(m => current = m.group(1))
      if (!current.startsWith("§2")) None
      else row.findFirstMatchIn(line).map { m =>
        val cells = line.split("\\|").map(_.trim).filter(_.nonEmpty)
        val gate = if (cells.length >= 3) cells.last else ""
        SurveyRow(current, m.group(1), gate)
      }
    }
  }

  /** First ~14 words of a gate cell — the index is a map, not a book;
    * SURVEY keeps the full rationale.
    */
  private def short(s: String, words: Int = 14): String = {
    val w = s.split("\\s+")
    val cut = w.take(words).mkString(" ")
    (if (w.length > words) cut + " …" else cut).replace("|", "\\|")
  }

  def render(): String = {
    val entrySrc = read(java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val sites = defSites()
    val impls = queryImpls(entrySrc)
    val oracled = SparkEntry.oracleSql.keySet
    val queries = SparkEntry.queries.keySet
    val rows = surveyRows(read(java.nio.file.Paths.get("SURVEY.md")))
    val bySection = rows.groupBy(_.section).toSeq.sortBy(_._1)

    def gateKind(id: String): String =
      if (oracled(id)) "DuckDB hash-gate"
      else if (queries(id)) "rows-only + spec"
      else "spec-gated library API"

    def site(id: String): String =
      impls.get(id).flatMap(sites.get).map(s => s"`$s`").getOrElse("—")

    val sb = new StringBuilder
    sb ++= "# graft API index\n\n"
    sb ++= "GENERATED by `sbt \"runMain graft.ApiDoc\"` from SparkEntry + SURVEY.md §2 —\n"
    sb ++= "do not edit by hand (ApiDocSpec asserts this file matches a regeneration).\n\n"
    sb ++= s"- **${rows.size} SURVEY §2 rows** (${rows.map(_.id).distinct.size} distinct ids)\n"
    sb ++= s"- **${queries.size} driver-gated queries** (`SparkEntry.queries`), of which ${oracled.size} carry DuckDB oracle twins\n"
    sb ++= "- every gated query runs as `SparkEntry.queries(<id>)(spark, sfDir)`; the\n"
    sb ++= "  `file:line` column is the implementing `def` (the place to read the plan\n"
    sb ++= "  rationale and the 100 TB notes)\n\n"
    for ((section, rs) <- bySection) {
      val title = section match {
        case "§2.1" => "sources"
        case "§2.2" => "transforms"
        case "§2.3" => "sinks"
        case "§2.4" => "pipeline/runtime"
        case "§2.5" => "word-pipeline queries"
        case "§2.6" => "relational/analytic queries"
        case "§2.7" => "LLM-data-pipeline operators"
        case "§2.8" => "streaming"
        case _      => ""
      }
      sb ++= s"## $section $title (${rs.size} rows)\n\n"
      sb ++= "| operator | gate | entry point | notes |\n|---|---|---|---|\n"
      for (r <- rs)
        sb ++= s"| `${r.id}` | ${gateKind(r.id)} | ${site(r.id)} | ${short(r.gate)} |\n"
      sb ++= "\n"
    }
    // query keys gated under a LIBRARY row (the SURVEY reconciliation's
    // "+4": skew_salting / skew_window_rewrite / zorder_layout ship
    // their oracle evidence as these extra SparkEntry keys)
    val extra = (queries -- rows.map(_.id).toSet).toSeq.sorted
    if (extra.nonEmpty) {
      sb ++= s"## query keys gated under library rows (${extra.size})\n\n"
      sb ++= "| query key | gate | entry point |\n|---|---|---|\n"
      for (id <- extra)
        sb ++= s"| `$id` | ${gateKind(id)} | ${site(id)} |\n"
      sb ++= "\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get("docs/API.md")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, render().getBytes("UTF-8"))
    println(s"[apidoc] wrote ${out} (${render().length} chars)")
  }
}
