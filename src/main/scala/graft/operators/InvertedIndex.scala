package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Positional inverted index + exact phrase search — the IR primitive
  * a corpus engine needs for "find documents containing this exact
  * span" (quote detection, template hunting, eval-answer lookup).
  *
  * The algorithm is the classic posting-intersection: explode
  * (doc, position, word) postings, join the phrase's words against
  * them, and a phrase occurrence exists wherever all words of the
  * phrase land on one anchor (pos − idx constant). Everything after
  * the postings explode is keyed by doc_id, so at 100 TB the match
  * work is co-partitioned per document and the phrase table (a few
  * rows) is broadcast — no shuffle ever carries postings for words
  * the phrases don't mention, because the broadcast join prunes them
  * map-side.
  */
object InvertedIndex {

  /** (doc_id, pos, word) positional postings over normalized text. */
  // NO Par.spread here (r14 A/B at sf0.1: bm25/phrase won ~0.15 s but
  // rrf_fusion lost 0.45 s — the IR branches reduce to postings
  // aggregates immediately, so the spread exchange nets a loss)
  def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(TextAnalysis.normalizedText(col("text")), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")

  /** Occurrence counts per (phrase, doc): a phrase matches at anchor a
    * iff every phrase word idx sits at position a + idx.
    */
  def phraseSearchOf(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val phr = phrases.toDF("phrase")
      .select(col("phrase"), posexplode(split(col("phrase"), " ")).as(Seq("idx", "word")))
    val plen = phr.groupBy("phrase").agg(count(lit(1)).as("plen"))
    postingsOf(docs)
      .join(broadcast(phr), "word")
      .groupBy(col("phrase"), col("doc_id"), (col("pos") - col("idx")).as("anchor"))
      .agg(count(lit(1)).as("n_matched"))
      .join(broadcast(plen), "phrase")
      .filter(col("n_matched") === col("plen"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy("phrase", "doc_id")
  }

  /** Gated form over three phrases present in the synthetic corpus. */
  val gatePhrases: Seq[String] = Seq("big order scan", "group slow spark", "sort slow hash")

  def phraseSearchQuery(t: Tables): DataFrame =
    phraseSearchOf(t.documents, gatePhrases)

  /** BM25 ranked retrieval — the scoring half of the IR surface next
    * to [[phraseSearchOf]]'s exact matching: classic Okapi BM25
    * (k1=1.2, b=0.75, the `+1` idf variant that stays positive for
    * high-df terms). Everything is relational: tf is a (doc, term)
    * count over the pruned postings, df/N/avgdl are broadcast scalars,
    * the score a single codegen'd expression — no per-query index
    * structure, so at 100 TB it is one pruned scan + one doc-keyed
    * shuffle, and the term filter (isin over a handful of literals)
    * pushes into the scan. Scores round to 6dp before the rank sort so
    * the (score, doc_id) order is oracle-stable.
    */
  val gateTerms: Seq[String] = Seq("spark", "scan", "slow", "order")

  /** Per-doc rounded BM25 scores (no top-k cut) — shared by
    * [[bm25Search]] and the [[rrfFusion]] sparse arm.
    */
  private def bm25Scores(docs: DataFrame, terms: Seq[String],
      k1: Double, b: Double): DataFrame = {
    val toks = postingsOf(docs).select("doc_id", "word")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    tf.join(broadcast(dft), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * col("tf") * (lit(k1) + lit(1.0)) / denom)
      .groupBy("doc_id")
      .agg(round(sum(col("term_score")), 6).as("bm25"))
  }

  def bm25Search(t: Tables, terms: Seq[String] = gateTerms, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(t.documents, terms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)

  def bm25Sql(terms: Seq[String] = gateTerms, k: Int = 10): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, tk[i + 1] AS word
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk))) AS r(i)
       |  WHERE tk[i + 1] <> ''
       |), dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, word, count(*) AS tf FROM toks
       |  WHERE word IN ($inList) GROUP BY doc_id, word
       |), dft AS (SELECT word, count(*) AS df FROM tf GROUP BY word)
       |SELECT doc_id,
       |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
       |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
       |FROM tf JOIN dft USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
       |GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  // --------------------------------------- reciprocal-rank fusion

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al.):
    * fuse the BM25 ranking with a tf·idf VECTOR-SPACE cosine ranking
    * of the same query terms — two genuinely different scoring
    * families (probabilistic term saturation vs geometric direction),
    * which is the point of RRF: rrf(d) = Σ_arms 1/(rrfK + rank_d),
    * robust to either arm's score scale. The cosine denominator is
    * each doc's FULL tf·idf norm (one corpus-wide (doc, word)
    * aggregate — the honest VSM norm, not a query-slice norm), the
    * numerator touches only query-term postings. Per-arm ranks over
    * the armK-row top lists come from a TRIANGULAR self-join (1 +
    * count of strictly-better rows, better = higher score then
    * smaller doc_id) — ≤armK² broadcast-sized rows, because a
    * row_number window over the arm list would be the unpartitioned
    * WindowExec PlanAuditSpec bans with no exemptions. Fusion is one
    * full-outer join of two ≤armK lists; a doc missing from an arm
    * contributes 0 (standard top-K RRF).
    */
  def rrfFusion(t: Tables, terms: Seq[String] = gateTerms, k: Int = 10,
      armK: Int = 20, rrfK: Int = 60): DataFrame =
    rrfFusionOf(t.documents, terms, k, armK, rrfK)

  def rrfFusionOf(docs: DataFrame, terms: Seq[String], k: Int = 10,
      armK: Int = 20, rrfK: Int = 60): DataFrame = {
    val toks = postingsOf(docs).select("doc_id", "word")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val nDocs = dl.agg(count(lit(1)).as("n_docs"))
    // full tf·idf weights over ALL (doc, word) — the norm's input
    val tfAll = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfAll = tfAll.groupBy("word").agg(count(lit(1)).as("df"))
    val wAll = tfAll.join(dfAll, "word").crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf").cast("double")
        * log(col("n_docs").cast("double") / col("df")))
    val norms = wAll.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("dnorm"))
    // query vector: weight idf per term; its norm folds in sorted term
    // order (≤|terms| doubles)
    val qw = dfAll.filter(col("word").isin(terms: _*)).crossJoin(broadcast(nDocs))
      .withColumn("qi", log(col("n_docs").cast("double") / col("df")))
    val qnorm = qw.agg(sqrt(aggregate(
      transform(array_sort(collect_list(struct(col("word"), (col("qi") * col("qi")).as("s")))),
        s => s.getField("s")),
      lit(0.0), (acc, x) => acc + x)).as("qnorm"))
    val nums = tfAll.join(broadcast(qw.select("word", "qi")), "word")
      .groupBy("doc_id")
      .agg(sum(col("tf").cast("double") * col("qi") * col("qi")).as("num"))
    // a doc whose every word appears in ALL docs has idf-weight 0
    // everywhere → zero norm → no direction; likewise a query of
    // all-ubiquitous terms zeroes qnorm and empties the arm (fusion
    // degrades to the bm25 arm, whose +1 idf variant stays positive)
    val cos = nums.join(norms, "doc_id").crossJoin(broadcast(qnorm))
      .select(col("doc_id"),
        when(col("dnorm") > 0 && col("qnorm") > 0,
          round(col("num") / (col("dnorm") * col("qnorm")), 6)).as("cosine"))
      .filter(col("cosine").isNotNull)
    // NOTE (r15 round 2, negative result kept): each ≤armK-row top
    // list is referenced twice below (both sides of rankSmall's
    // triangular self-join), and the STATIC plan instantiates the
    // whole scoring pipeline per reference (48 parquet scans in the
    // formatted dump). localCheckpoint-ing both lists (the rocchio
    // pattern) collapses the plan to 0 scans — and measured WORSE in
    // a same-subset driver-shaped A/B at sf0.1 (2.03 → 2.88 s p50):
    // AQE's runtime exchange reuse already dedups the duplicated
    // subtrees inside ONE job, while the checkpoints serialize two
    // eager arm jobs ahead of it. The static-plan scan count is not
    // the runtime scan count.
    val vsmTop = cos.orderBy(col("cosine").desc, col("doc_id")).limit(armK)
    val bmTop = bm25Scores(docs, terms, 1.2, 0.75)
      .orderBy(col("bm25").desc, col("doc_id")).limit(armK)
    def rankSmall(df: DataFrame, score: String): DataFrame = {
      val a = df.as("a"); val b = df.as("b")
      a.join(broadcast(b),
          col(s"b.$score") > col(s"a.$score") ||
            (col(s"b.$score") === col(s"a.$score") && col("b.doc_id") < col("a.doc_id")),
          "left")
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg((count(col("b.doc_id")) + 1L).as("rank"))
    }
    val r1 = rankSmall(bmTop, "bm25").withColumnRenamed("rank", "bm25_rank")
    val r2 = rankSmall(vsmTop, "cosine").withColumnRenamed("rank", "vsm_rank")
    r1.join(r2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("vsm_rank"),
        (round(coalesce(lit(1.0) / (col("bm25_rank") + rrfK), lit(0.0))
          + coalesce(lit(1.0) / (col("vsm_rank") + rrfK), lit(0.0)), 6) + lit(0.0))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  def rrfFusionSql(terms: Seq[String] = gateTerms, k: Int = 10,
      armK: Int = 20, rrfK: Int = 60): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, tk[i + 1] AS word
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk))) AS r(i)
       |  WHERE tk[i + 1] <> ''
       |), dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf_all AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
       |df_all AS (SELECT word, count(*) AS df FROM tf_all GROUP BY word),
       |w_all AS (
       |  SELECT doc_id, word,
       |    CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) AS w
       |  FROM tf_all JOIN df_all USING (word) CROSS JOIN stats
       |), norms AS (SELECT doc_id, sqrt(sum(w * w)) AS dnorm FROM w_all GROUP BY doc_id),
       |qw AS (
       |  SELECT word, ln(CAST(n_docs AS DOUBLE) / df) AS qi
       |  FROM df_all CROSS JOIN stats WHERE word IN ($inList)
       |), qnorm AS (
       |  SELECT sqrt(list_reduce(list_prepend(0.0, list(qi * qi ORDER BY word)),
       |    (x, y) -> x + y)) AS qnorm
       |  FROM qw
       |), cosines AS (
       |  SELECT doc_id, cosine FROM (
       |    SELECT doc_id,
       |      CASE WHEN any_value(dnorm) > 0 AND any_value(qnorm) > 0 THEN
       |        round(sum(CAST(tf AS DOUBLE) * qi * qi)
       |          / (any_value(dnorm) * any_value(qnorm)), 6) END AS cosine
       |    FROM tf_all JOIN qw USING (word) JOIN norms USING (doc_id) CROSS JOIN qnorm
       |    GROUP BY doc_id)
       |  WHERE cosine IS NOT NULL
       |), vsm_top AS (
       |  SELECT doc_id, cosine,
       |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS vsm_rank
       |  FROM (SELECT doc_id, cosine FROM cosines ORDER BY cosine DESC, doc_id LIMIT $armK)
       |), tf_q AS (
       |  SELECT doc_id, word, count(*) AS tf FROM toks
       |  WHERE word IN ($inList) GROUP BY doc_id, word
       |), dft AS (SELECT word, count(*) AS df FROM tf_q GROUP BY word),
       |bm AS (
       |  SELECT doc_id,
       |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
       |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
       |  FROM tf_q JOIN dft USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY doc_id
       |), bm_top AS (
       |  SELECT doc_id, bm25,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
       |  FROM (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT $armK)
       |)
       |SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
       |  b.bm25_rank, v.vsm_rank,
       |  round(coalesce(1.0 / (b.bm25_rank + $rrfK), 0.0)
       |    + coalesce(1.0 / (v.vsm_rank + $rrfK), 0.0), 6) + 0.0 AS rrf
       |FROM bm_top b FULL OUTER JOIN vsm_top v ON v.doc_id = b.doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  def phraseSearchSql(phrases: Seq[String] = gatePhrases): String = {
    val values = phrases.map(p => s"('$p')").mkString(", ")
    s"""WITH postings AS (
       |  SELECT doc_id, i AS pos, tk[i + 1] AS word
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk))) AS r(i)
       |  WHERE tk[i + 1] <> ''
       |), phr AS (
       |  SELECT phrase, i AS idx, pw[i + 1] AS word
       |  FROM (SELECT phrase, string_split(phrase, ' ') AS pw
       |        FROM (VALUES $values) v(phrase)),
       |    unnest(range(0, len(pw))) AS r(i)
       |), plen AS (SELECT phrase, count(*) AS plen FROM phr GROUP BY phrase),
       |m AS (
       |  SELECT phrase, doc_id, pos - idx AS anchor, count(*) AS n_matched
       |  FROM postings JOIN phr USING (word)
       |  GROUP BY phrase, doc_id, pos - idx
       |)
       |SELECT phrase, doc_id, count(*) AS n_occurrences
       |FROM m JOIN plen USING (phrase)
       |WHERE n_matched = plen
       |GROUP BY phrase, doc_id
       |ORDER BY phrase, doc_id""".stripMargin
  }

  // --------------------------------- Rocchio pseudo-relevance feedback

  /** [[bm25Scores]] with a DATA-dependent term set (a one-column
    * `word` DataFrame) — the literal-list form keeps its codegen'd
    * isin filter; this variant broadcast-joins the term table, which
    * is what query expansion needs (round-2 terms are computed, not
    * authored).
    */
  private def bm25ScoresDf(docs: DataFrame, termsDf: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val toks = postingsOf(docs).select("doc_id", "word")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.join(broadcast(termsDf), "word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    tf.join(broadcast(dft), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * col("tf") * (lit(k1) + lit(1.0)) / denom)
      .groupBy("doc_id")
      .agg(round(sum(col("term_score")), 6).as("bm25"))
  }

  /** Rocchio-style pseudo-relevance feedback (the classic two-pass
    * query expansion): round 1 retrieves the top-`r` feedback docs by
    * BM25 on the authored terms; the expansion picks the top-`e`
    * NON-query terms by summed tf·idf mass over those feedback docs
    * (the dominant terms of the Rocchio centroid — the β term of the
    * update, with the α term being the original query kept verbatim);
    * round 2 re-scores the corpus with the expanded term set and
    * ships the final top-`k` with ranks. Both BM25 passes share one
    * postings plan; the expansion aggregate touches only feedback-doc
    * postings (r docs, broadcast); ranks come from the triangular
    * self-join over the ≤k top list ([[rrfFusionOf]]'s rankSmall — a
    * row_number window here would be the unpartitioned WindowExec
    * PlanAuditSpec bans). Expansion scores round to 6dp before the
    * rank so term selection is engine-stable.
    */
  def rocchioExpandOf(docs: DataFrame, terms: Seq[String], r: Int = 5,
      e: Int = 3, k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feedback = bm25Scores(docs, terms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id")).limit(r)
      .select("doc_id")
    val toks = postingsOf(docs).select("doc_id", "word")
    val nDocs = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .agg(count(lit(1)).as("n_docs"))
    val tfAll = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfAll = tfAll.groupBy("word").agg(count(lit(1)).as("df"))
    val expansion = tfAll.join(broadcast(feedback), "doc_id")
      .join(dfAll, "word").crossJoin(broadcast(nDocs))
      .filter(!col("word").isin(terms: _*))
      .groupBy("word")
      .agg(round(sum(col("tf").cast("double")
        * log(col("n_docs").cast("double") / col("df"))), 6).as("rscore"))
      .orderBy(col("rscore").desc, col("word")).limit(e)
    val terms2 = expansion.select("word")
      .unionAll(terms.toDF("word")).distinct()
    // r15 (guide §5): the rank self-join references `top` TWICE (stream
    // side + broadcast side), and a TakeOrdered result is not an
    // exchange — nothing is reused, so the WHOLE round-2 BM25 pass
    // (tokenize scan included) executed once per side. One ≤k-row
    // lineage cut makes the second reference free.
    val top = bm25ScoresDf(docs, terms2, k1, b)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .transform(Lineage.cut)
    val a = top.as("a"); val bb = top.as("b")
    a.join(broadcast(bb),
        col("b.bm25") > col("a.bm25") ||
          (col("b.bm25") === col("a.bm25") && col("b.doc_id") < col("a.doc_id")),
        "left")
      .groupBy(col("a.doc_id").as("doc_id"), col("a.bm25").as("bm25"))
      .agg((count(col("b.doc_id")) + 1L).as("rank"))
      .orderBy("rank")
  }

  def rocchioExpand(t: Tables, terms: Seq[String] = gateTerms): DataFrame =
    rocchioExpandOf(t.documents, terms)

  def rocchioExpandSql(terms: Seq[String] = gateTerms, r: Int = 5, e: Int = 3,
      k: Int = 10): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, tk[i + 1] AS word
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk))) AS r(i)
       |  WHERE tk[i + 1] <> ''
       |), dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf1 AS (
       |  SELECT doc_id, word, count(*) AS tf FROM toks
       |  WHERE word IN ($inList) GROUP BY doc_id, word
       |), dft1 AS (SELECT word, count(*) AS df FROM tf1 GROUP BY word),
       |feedback AS (
       |  SELECT doc_id,
       |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
       |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
       |  FROM tf1 JOIN dft1 USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY doc_id
       |  ORDER BY bm25 DESC, doc_id LIMIT $r
       |), tf_all AS (
       |  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
       |), df_all AS (SELECT word, count(*) AS df FROM tf_all GROUP BY word),
       |expansion AS (
       |  SELECT word,
       |    round(sum(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df)), 6) AS rscore
       |  FROM tf_all
       |  JOIN (SELECT doc_id FROM feedback) USING (doc_id)
       |  JOIN df_all USING (word) CROSS JOIN stats
       |  WHERE word NOT IN ($inList)
       |  GROUP BY word ORDER BY rscore DESC, word LIMIT $e
       |), terms2 AS (
       |  SELECT word FROM expansion
       |  UNION SELECT unnest([$inList]) AS word
       |), tf2 AS (
       |  SELECT t.doc_id, t.word, count(*) AS tf
       |  FROM toks t JOIN terms2 q ON q.word = t.word
       |  GROUP BY t.doc_id, t.word
       |), dft2 AS (SELECT word, count(*) AS df FROM tf2 GROUP BY word),
       |top AS (
       |  SELECT doc_id,
       |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
       |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
       |  FROM tf2 JOIN dft2 USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY doc_id
       |  ORDER BY bm25 DESC, doc_id LIMIT $k
       |)
       |SELECT doc_id, bm25,
       |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
       |FROM top
       |ORDER BY rank""".stripMargin
  }
}
