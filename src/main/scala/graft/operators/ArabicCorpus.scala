package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TextFiles

/** The reference's own use case end-to-end: Arabic word statistics
  * over a directory tree of `.txt` files (`dir`; [[SampleDir]] is the
  * in-repo seeded sample corpus and is only a default). Mirrors
  * v2/main.py's flagship pipeline with the Arabic tokenizer
  * (v2/arabic_transformers.py:6) on real Arabic text.
  */
object ArabicCorpus {

  /** `data/sample_data` (written by tools/gen_sample_data.py), resolved
    * against the working directory, which is the repo root for sbt runs
    * and tests; the SQL twins read the same absolute path.
    */
  val SampleDir: String = new java.io.File("data/sample_data").getAbsolutePath

  /** Per-word frequency of diacritics-stripped Arabic tokens across
    * the corpus — deterministic top-k.
    */
  def tokenCounts(spark: SparkSession, dir: String = SampleDir, k: Int = 100): DataFrame =
    TextFiles.wholeText(spark, "*.txt", dir)
      .select(explode(TextFunctions.arabicTokens(col("content"))).as("word"))
      .select(TextFunctions.removeDiacritics(col("word")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(k)

  /** DuckDB twin of [[tokenCounts]] via read_text over the same files.
    * The letter-run class [0621-063a 0640-0652] equals the reference's
    * enumerated Arabic class; diacritics U+064B..U+0652 strip as one
    * contiguous range.
    */
  val tokenCountsSql: String =
    s"""SELECT w AS word, count(*) AS freq FROM (
       |  SELECT regexp_replace(
       |    unnest(regexp_extract_all(content, '[\\x{0621}-\\x{063a}\\x{0640}-\\x{0652}]+')),
       |    '[\\x{064b}-\\x{0652}]', '', 'g') AS w
       |  FROM read_text('$SampleDir/**/*.txt')) t
       |WHERE w <> ''
       |GROUP BY w ORDER BY freq DESC, word LIMIT 100""".stripMargin

  /** Full flagship output over the file corpus: per-file word rows
    * (word, word_len, word_truncated, file_path, words_count) — the
    * reference's values_to_load_path row (v2/main.py:290-294). One
    * narrow stage over whole-file rows ([[WordPipeline.wordStatsOf]]);
    * rows come in no particular order.
    */
  def wordStats(spark: SparkSession, dir: String = SampleDir): DataFrame =
    WordPipeline.wordStatsOf(TextFiles.wholeText(spark, "*.txt", dir),
      // basename_backwards_x4 ∘ truncate_str_270, as v2/main.py:205
      TextFunctions.basenameBackwards(col("file_path")).as("file_path"),
      // the reference's lower∘strip word normalizer (v2/main.py:112) is
      // the identity on Arabic tokens (no case, no spaces): not applied
      TextFunctions.arabicTokens(col("content")))
      .select("word", "word_len", "word_truncated", "file_path", "words_count")
}
