package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The reference engine's flagship semantics — per-document word
  * statistics — re-expressed as declarative Spark plans over the
  * `documents` table.
  *
  * Reference pipeline (/root/reference v2/main.py:93-204):
  * files → read text → tokenize → per-file token count
  * (`ReduceItemTransformer.count`, v2/core/transformers/aggregators.py:64)
  * → per-file unique normalized words (`UniqueFilterTransformer`,
  * aggregators.py:70) → derive word_len / word_truncated / truncate
  * (`OneToOneItemAttributesTransformer`, one_to_one.py:9) → load rows
  * (word, word_len, word_truncated, file, words_count).
  *
  * Spark-first: tokenization is `split`, with no UDF. A document
  * is one row, so the in-process reducer and the shared-memory
  * uniqueness bag both become per-row array expressions
  * ([[wordStatsOf]]): the flagship row needs no shuffle and no join.
  */
object WordPipeline {

  /** doc_id × normalized token. `lower ∘ trim` mirrors the reference's
    * unique_value_normalizers (v2/main.py:112). Works on ANY corpus
    * DataFrame with (id, text) columns — [[tokens]] binds it to the
    * testdata documents table.
    */
  def tokensOf(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), "\\s+")).as("word"))
      .select(col("doc_id"), TextFunctions.normalizeWord(col("word")).as("word"))
      .filter(col("word") =!= "")

  def tokens(t: Tables): DataFrame = tokensOf(t.documents)

  def tokensOrdered(t: Tables): DataFrame =
    tokens(t).orderBy("doc_id", "word")

  /** Content-word tokens: stopwords and single chars dropped — the
    * reference's `ignore_word_fn`/mappers hook (v2/core/transformers/
    * text.py:14-16) as a declarative filter.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def tokensFiltered(t: Tables): DataFrame =
    tokens(t)
      .filter(length(col("word")) >= 2 &&
        !col("word").isin(Stopwords: _*))
      .orderBy("doc_id", "word")

  def tokensFilteredSql: String =
    s"""$tokensCte SELECT doc_id, word FROM toks
       |WHERE length(word) >= 2 AND word NOT IN (${Stopwords.map("'" + _ + "'").mkString(",")})
       |ORDER BY doc_id, word""".stripMargin

  /** Per-doc total token count — ReduceItemTransformer(count) analog. */
  def wordsCount(t: Tables): DataFrame =
    tokens(t).groupBy("doc_id").agg(count(lit(1)).as("words_count")).orderBy("doc_id")

  /** Per-doc distinct normalized words — UniqueFilterTransformer analog. */
  def uniqueWords(t: Tables): DataFrame =
    tokens(t).distinct().orderBy("doc_id", "word")

  /** Flagship output row (v2/main.py:290-294 values_to_load_path) over
    * [[wordStatsOf]]; the sort serves the oracle-checked query only.
    */
  def wordStats(t: Tables): DataFrame =
    wordStatsOf(t.documents, col("doc_id"),
      transform(split(col("text"), "\\s+"), TextFunctions.normalizeWord(_)))
      .withColumn("word_len", col("word_len").cast("long"))
      .orderBy("doc_id", "word")

  /** Per-row word stats, the core of both flagship forms: one row per
    * distinct non-empty token w of each input row — (id, word =
    * truncate_str_255(w) (v2/core/commons.py), word_len = length of w
    * without tashkeel (v2/arabic_transformers.py:25), word_truncated,
    * words_count = the row's non-empty token count). No exchange, join
    * or sort: exact because a document is one row. `array_distinct`
    * keeps first-occurrence order, so a retried task yields equal rows.
    */
  def wordStatsOf(rows: DataFrame, id: Column, toks: Column): DataFrame = {
    val perRow = rows.select(id, filter(toks, _ =!= "").as("toks"))
    val (idCol, w) = (col(perRow.columns.head), col("w"))
    perRow
      .select(idCol, explode(array_distinct(col("toks"))).as("w"),
        size(col("toks")).cast("long").as("words_count"))
      .select(idCol, TextFunctions.truncate255(w).as("word"),
        length(TextFunctions.removeDiacritics(w)).as("word_len"),
        (length(w) > 255).cast("int").as("word_truncated"), col("words_count"))
  }

  /** Per-doc word frequencies — the py-beam variant's exact output
    * shape ((file, word) → count; /root/reference py-beam/main.py:
    * PairWithOne → CombinePerKey(sum)).
    */
  def wordDocFreq(t: Tables): DataFrame =
    tokens(t)
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("freq"))
      .orderBy("doc_id", "word")

  // def, not val: tokensCte is declared further down the object body
  def wordDocFreqSql: String =
    s"$tokensCte SELECT doc_id, word, count(*) AS freq FROM toks GROUP BY doc_id, word ORDER BY doc_id, word"

  /** TF-IDF, top terms per document: tf = freq/doc_len,
    * idf = ln(N/df). The df join is deliberately UN-hinted: "one row
    * per distinct word" is small only below web scale (a 100 TB corpus
    * has ~10⁸ distinct tokens), so a forced broadcast would bypass
    * autoBroadcastJoinThreshold and OOM the executors. AQE broadcasts
    * it at runtime while it measures small; beyond that it stays a
    * partitioned join whose build side reuses the groupBy("word")
    * shuffle — only (doc_id, word, counts) move, never text. The doc
    * stats join is co-partitioned with the tf aggregate.
    * Deterministic: scores rounded, ties broken by word.
    */
  def tfidfTop(t: Tables, perDoc: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq    = tokens(t).groupBy("doc_id", "word").agg(count(lit(1)).as("tf_raw"))
    val docLen  = freq.groupBy("doc_id").agg(sum(col("tf_raw")).as("doc_len"))
    val df      = freq.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs   = t.documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word"))
    freq
      .join(docLen, "doc_id")
      .join(df, "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round((col("tf_raw").cast("double") / col("doc_len")) *
          log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= perDoc)
      .select(col("doc_id"), col("rnk"), col("word"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  def tfidfTopSql(perDoc: Int = 3): String =
    s"""$tokensCte, freq AS (
       |  SELECT doc_id, word, count(*) AS tf_raw FROM toks GROUP BY doc_id, word
       |), doclen AS (
       |  SELECT doc_id, CAST(sum(tf_raw) AS BIGINT) AS doc_len FROM freq GROUP BY doc_id
       |), dfreq AS (
       |  SELECT word, count(*) AS df FROM freq GROUP BY word
       |), n AS (SELECT count(*) AS n_docs FROM documents
       |), scored AS (
       |  SELECT f.doc_id, f.word,
       |    round((CAST(tf_raw AS DOUBLE) / doc_len) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
       |  FROM freq f JOIN doclen USING (doc_id) JOIN dfreq USING (word) CROSS JOIN n
       |)
       |SELECT doc_id, rnk, word, tfidf FROM (
       |  SELECT doc_id, word, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
       |  FROM scored)
       |WHERE rnk <= $perDoc
       |ORDER BY doc_id, rnk""".stripMargin

  /** Corpus-wide word frequency, deterministic top-k. */
  def wordFreqTopK(t: Tables, k: Int = 100): DataFrame =
    tokens(t)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(k)

  /** Per-source corpus stats — the extractor fan-out analog (one
    * reference pipeline per root folder → one group per source).
    */
  def corpusStats(t: Tables): DataFrame =
    t.documents
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")

  // ---- DuckDB oracles ----

  private[operators] val tokensCte =
    """WITH toks AS (
      |  SELECT doc_id, lower(trim(w)) AS word
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
      |  WHERE lower(trim(w)) <> ''
      |)""".stripMargin

  val tokensSql: String =
    s"$tokensCte SELECT doc_id, word FROM toks ORDER BY doc_id, word"

  val wordsCountSql: String =
    s"$tokensCte SELECT doc_id, count(*) AS words_count FROM toks GROUP BY doc_id ORDER BY doc_id"

  val uniqueWordsSql: String =
    s"$tokensCte SELECT DISTINCT doc_id, word FROM toks ORDER BY doc_id, word"

  val wordStatsSql: String =
    s"""$tokensCte, counts AS (
       |  SELECT doc_id, count(*) AS words_count FROM toks GROUP BY doc_id
       |), uniq AS (
       |  SELECT DISTINCT doc_id, word FROM toks
       |)
       |SELECT u.doc_id, substr(u.word, 1, 255) AS word,
       |       length(regexp_replace(u.word, '[\\x{064b}-\\x{0652}]', '', 'g')) AS word_len,
       |       CAST(length(u.word) > 255 AS INT) AS word_truncated, c.words_count
       |FROM uniq u JOIN counts c ON u.doc_id = c.doc_id
       |ORDER BY u.doc_id, u.word""".stripMargin

  val wordFreqTopKSql: String =
    s"$tokensCte SELECT word, count(*) AS freq FROM toks GROUP BY word ORDER BY freq DESC, word LIMIT 100"

  val corpusStatsSql: String =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       round(avg(n_chars), 4) AS avg_chars, count(DISTINCT lang) AS n_langs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin
}
