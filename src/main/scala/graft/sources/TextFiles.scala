package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-corpus sources — the reference's extractors re-expressed as
  * distributed reads.
  *
  * `FilesListExtractor`/`FoldersFilesListExtractor` (/root/reference
  * v2/core/extractors/files.py:7,29) walk directories on one process
  * and push paths down a queue. Spark's file index does the same walk
  * driver-side but hands out *partitioned splits*, so the downstream
  * map runs cluster-wide; at 100 TB the listing itself parallelizes
  * via spark.sql.sources.parallelPartitionDiscovery.threshold.
  */
object TextFiles {

  /** One row per file: (path, length, modification_time). The
    * binaryFile source prunes the content column when unselected, so
    * this never reads file bodies.
    */
  def listFiles(spark: SparkSession, pattern: String, paths: String*): DataFrame =
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", pattern)
      .option("recursiveFileLookup", "true")
      .load(paths: _*)
      .select(col("path"), col("length"), col("modificationTime").as("modification_time"))

  /** One row per non-blank line: (file_path, line) —
    * FileToTextLinesTransformer analog (v2/core/transformers/files.py:17).
    */
  def lines(spark: SparkSession, pattern: String, paths: String*): DataFrame =
    spark.read
      .option("pathGlobFilter", pattern)
      .option("recursiveFileLookup", "true")
      .text(paths: _*)
      .select(input_file_name().as("file_path"), trim(col("value")).as("line"))
      .filter(col("line") =!= "")

  /** One row per file: (file_path, content) —
    * FileTextReaderTransformer analog (v2/core/transformers/files.py:57).
    * A file is never split across rows, which makes per-file statistics
    * narrow, shuffle-free projections (`ArabicCorpus.wordStats`). The
    * price: a row holds a whole file, and Spark caps a row at 2 GB (the
    * reference notes the memory cost itself, v2/main.py:97).
    */
  def wholeText(spark: SparkSession, pattern: String, paths: String*): DataFrame =
    spark.read
      .option("wholetext", "true")
      .option("pathGlobFilter", pattern)
      .option("recursiveFileLookup", "true")
      .text(paths: _*)
      .select(input_file_name().as("file_path"), col("value").as("content"))

  /** v1's corpus/domain/period provenance columns derived from the
    * directory layout (v1/corpus_main_script.py:33-96) — path segments
    * become columns, so the folder hierarchy survives as data.
    */
  def withPathProvenance(df: DataFrame, levels: Int = 3): DataFrame = {
    val parts = split(col("file_path"), "/")
    val n     = size(parts)
    df.withColumn("file_name", element_at(parts, -1))
      .withColumn("dir1", when(n > levels, element_at(parts, -2)))
      .withColumn("dir2", when(n > levels + 1, element_at(parts, -3)))
      .withColumn("dir3", when(n > levels + 2, element_at(parts, -4)))
  }
}
