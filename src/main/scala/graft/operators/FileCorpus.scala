package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TextFiles

/** File-corpus queries over the sample corpus's books
  * (`data/sample_data/books` — 28 seeded English-like texts, most with
  * the same Project Gutenberg-style license header and footer):
  * the extractor surface (§2.1) exercised end-to-end and oracle-gated
  * via DuckDB's read_text over the same files.
  */
object FileCorpus {

  val BooksDir = s"${ArabicCorpus.SampleDir}/books"

  private def fname(pathCol: org.apache.spark.sql.Column) =
    element_at(split(pathCol, "/"), -1)

  /** Per-file line statistics from the distributed line source
    * (FileToTextLinesTransformer analog, oracle-checked).
    */
  def fileLineStats(spark: SparkSession): DataFrame =
    TextFiles.lines(spark, "*.txt", BooksDir)
      .groupBy(fname(col("file_path")).as("fname"))
      .agg(count(lit(1)).as("n_lines"),
        sum(length(col("line"))).as("sum_chars"))
      .orderBy("fname")

  /** Shared non-empty-trimmed-lines CTE (BOM + CR stripped to match
    * Spark's text source) — composed by both line twins so the line
    * unit can never de-sync between them (the urlCanonCte pattern).
    */
  private val linesCte: String =
    s"""WITH lines AS (
       |  SELECT string_split(filename, '/')[-1] AS fname, trim(l) AS line
       |  FROM (
       |    SELECT filename,
       |      unnest(string_split(replace(replace(content, chr(65279), ''), chr(13), ''), chr(10))) AS l
       |    FROM read_text('$BooksDir/*.txt'))
       |  WHERE trim(l) <> ''
       |)""".stripMargin

  val fileLineStatsSql: String =
    s"""$linesCte
       |SELECT fname, count(*) AS n_lines, CAST(sum(length(line)) AS BIGINT) AS sum_chars
       |FROM lines GROUP BY fname ORDER BY fname""".stripMargin

  /** Cross-file boilerplate LINE dedup (r14) — the RefinedWeb/CCNet
    * curation step the word-level dedups can't express: a line whose
    * exact (trimmed) text occurs in ≥ `minFiles` DISTINCT files is
    * boilerplate (here the Gutenberg-style license apparatus of the
    * sample books is the positive class — the navigation/license
    * furniture the technique exists to remove), and dropping it is
    * line- not document-level surgery. The gated output is the
    * per-file removal manifest: lines seen, boilerplate lines dropped,
    * characters kept.
    *
    * Scale shape: lines reduce to (md5(line), fname, len) right after
    * the scan — no line TEXT ever shuffles. The df aggregate and the
    * boilerplate-membership join both key on the 32-hex digest; the
    * per-(file,line) distinct inside the df count is map-side
    * collapsible, and the final aggregate keys on fname. At 100 TB the
    * boilerplate side is the df-tail (tiny by Zipf) but nothing
    * REQUIRES it broadcast-sized, so the join is planner-decided.
    */
  def dedupLines(spark: SparkSession, minFiles: Int = 3): DataFrame =
    dedupLinesIn(spark, BooksDir, minFiles)

  def dedupLinesIn(spark: SparkSession, dir: String, minFiles: Int): DataFrame = {
    val lines = TextFiles.lines(spark, "*.txt", dir)
      .select(fname(col("file_path")).as("fname"),
        length(col("line")).cast("long").as("n_chars"), md5(col("line")).as("h"))
    val boiler = lines.select("fname", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minFiles)
      .select(col("h"), lit(1L).as("_boiler"))
    lines.join(boiler, Seq("h"), "left")
      .groupBy("fname")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_boiler").isNotNull, 1L).otherwise(0L)).as("n_boilerplate"),
        sum(when(col("_boiler").isNotNull, 0L).otherwise(col("n_chars"))).as("chars_kept"))
      .orderBy("fname")
  }

  def dedupLinesSql(minFiles: Int = 3): String =
    s"""$linesCte, hl AS (
       |  SELECT fname, CAST(length(line) AS BIGINT) AS n_chars, md5(line) AS h FROM lines
       |), boiler AS (
       |  SELECT h FROM (SELECT DISTINCT fname, h FROM hl) GROUP BY h HAVING count(*) >= $minFiles
       |)
       |SELECT fname, count(*) AS n_lines,
       |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       |  CAST(sum(CASE WHEN b.h IS NULL THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
       |FROM hl LEFT JOIN boiler b ON hl.h = b.h
       |GROUP BY fname ORDER BY fname""".stripMargin

  /** Whole-file word counts — the reference's ReduceItemTransformer
    * (count) over FileTextReaderTransformer, per file, oracle-checked.
    */
  def fileWordCounts(spark: SparkSession): DataFrame = {
    // Per-FILE stats need no corpus-wide state, so don't pay for any:
    // the old explode + countDistinct shuffled ~2.5M (fname, word) pairs
    // two aggregation passes; in-expression array folds compute both
    // counts inside the projection — one scan, zero shuffles, and the
    // per-task memory is bounded by the file (which whole-text rows
    // already are). 3.1s p50 → ~0.4s.
    val words = filter(split(col("content"), "\\s+"), w => w =!= "")
    TextFiles.wholeText(spark, "*.txt", BooksDir)
      .select(fname(col("file_path")).as("fname"), words.as("ws"))
      .select(col("fname"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(transform(col("ws"), w => lower(w)))).cast("long").as("n_distinct"))
      // a wordless file must emit NO row (the explode form and the
      // oracle's WHERE w <> '' both drop it) — not a (fname, 0, 0) row
      .filter(col("n_words") > 0)
      .orderBy("fname")
  }

  val fileWordCountsSql: String =
    s"""WITH words AS (
       |  SELECT string_split(filename, '/')[-1] AS fname, w
       |  FROM (
       |    SELECT filename, unnest(regexp_split_to_array(content, '\\s+')) AS w
       |    FROM read_text('$BooksDir/*.txt'))
       |  WHERE w <> ''
       |)
       |SELECT fname, count(*) AS n_words, count(DISTINCT lower(w)) AS n_distinct
       |FROM words GROUP BY fname ORDER BY fname""".stripMargin
}
