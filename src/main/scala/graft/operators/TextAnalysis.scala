package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  * All are pure column expressions (whole-stage codegen; no UDFs),
  * so they scan-prune and pipeline with any other operator.
  */
object TextAnalysis {

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "y", "en", "una", "que", "un"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "ist"))

  private def toks(c: Column): Column = split(lower(trim(c)), "\\s+")

  private def stopHits(c: Column, lang: String): Column =
    size(filter(toks(c), w => array_contains(array(stop(lang).map(lit): _*), w)))

  /** The stop list as a quoted SQL literal list, for oracle authors
    * that score quality over a derived text expression (e.g. the
    * span-cut text in [[Curate.curateSql]]).
    */
  def stopListSql(lang: String): String = stop(lang).map("'" + _ + "'").mkString(",")

  /** The raw stop list, for composers that re-derive quality inputs
    * from a token stream (e.g. [[Curate.curate]]'s span-cut stats). */
  def stopList(lang: String): Seq[String] = stop(lang)

  /** Union of all four language stoplists, sorted — the delimiter set
    * for phrase extraction over the multilingual corpus
    * ([[CorpusScience.rakeOf]]). */
  def stopListAll: Seq[String] = stop.values.flatten.toSeq.distinct.sorted

  /** Charset + stopword-vote language ID with a deterministic
    * tie-break order (zh/ar charsets first, then en>fr>es>de).
    *
    * Single-pass scoring: the text is tokenized ONCE and one
    * `aggregate` fold accumulates all four languages' stop-hit counts
    * as a 4-vector — one broadcast-literal map lookup per token (the
    * stop lists overlap: fr/es share "un", so the map value is a
    * membership VECTOR, not a single language tag). The naive form —
    * four independent `size(filter(toks, array_contains(...)))`
    * passes — re-tokenizes and re-scans the token array per language;
    * at 100 TB that 4× constant (and its growth with every added
    * language) is the whole cost of the operator, since this is a
    * map-side-only scan. Counts are identical to per-language
    * membership counting, so the hash gate is unchanged.
    */
  private val langOrder = Seq("en", "fr", "es", "de")
  def langIdCol(text: Column): Column = {
    val vecs: Map[String, Seq[Int]] = stop.values.flatten.toSeq.distinct.map { w =>
      w -> langOrder.map(l => if (stop(l).contains(w)) 1 else 0)
    }.toMap
    val m = map(vecs.toSeq.sortBy(_._1).flatMap { case (w, v) =>
      Seq(lit(w), array(v.map(lit): _*))
    }: _*)
    val zero = array(langOrder.map(_ => lit(0)): _*)
    val hits = aggregate(toks(text), zero,
      (acc, w) => zip_with(acc, coalesce(element_at(m, w), zero), (x, y) => x + y))
    // The original cascade (en wins if ≥ all, else fr if ≥ es,de, …)
    // is exactly "first index achieving the max" in en>fr>es>de
    // order. Binding `hits` through a 1-element transform lambda makes
    // the fold evaluate ONCE — naming it in each CASE branch would
    // re-run the whole aggregate per comparison (higher-order
    // functions sit outside codegen's subexpression elimination).
    val langLits = array(langOrder.map(lit): _*)
    val vote = element_at(
      transform(array(hits), h =>
        element_at(langLits, array_position(h, array_max(h)).cast("int"))), 1)
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(text.rlike("[\\x{0600}-\\x{06ff}]"), "ar")
      // NULL text: the fold is NULL, but the original cascade (and the
      // oracle's CASE, which falls through to ELSE 'de') resolves NULL
      // comparisons to the final branch — preserve that
      .otherwise(coalesce(vote, lit("de")))
  }

  def langId(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), langIdCol(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  val langIdSql: String = {
    def hits(l: String) =
      s"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), w -> list_contains([${stop(l).map("'" + _ + "'").mkString(",")}], w)))"
    s"""WITH scored AS (
       |  SELECT doc_id, text, ${hits("en")} AS en, ${hits("fr")} AS fr, ${hits("es")} AS es, ${hits("de")} AS de
       |  FROM documents
       |)
       |SELECT doc_id, CASE
       |  WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |  WHEN regexp_matches(text, '[\\x{0600}-\\x{06ff}]') THEN 'ar'
       |  WHEN en >= fr AND en >= es AND en >= de THEN 'en'
       |  WHEN fr >= es AND fr >= de THEN 'fr'
       |  WHEN es >= de THEN 'es'
       |  ELSE 'de' END AS lang_pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Blended quality score as a reusable column expression — the
    * single-number form consumed by [[Curate]]; [[qualityScore]] emits
    * it alongside the individual features.
    */
  def qualityCol(text: Column): Column = {
    // greatest(nChars, 1): an empty crawl doc scores low, it doesn't
    // throw the ANSI /0 (nToks is ≥ 1 by split semantics)
    val nChars = greatest(length(text), lit(1))
    val nToks  = size(split(trim(text), "\\s+"))
    val punct  = length(regexp_replace(text, "[^.,;:!?]", ""))
    val stops  = stopHits(text, "en")
    round(
      least(nToks.cast("double") / 100, lit(1.0)) * 0.5 +
        (lit(1.0) - punct.cast("double") / nChars) * 0.25 +
        least(stops.cast("double") / nToks * 5, lit(1.0)) * 0.25, 6)
  }

  /** Quality features + a single blended score (ratios rounded to 6dp
    * for cross-engine float stability).
    */
  def qualityScore(t: Tables): DataFrame = {
    val text    = col("text")
    val nChars  = length(text)
    val nToks   = size(split(trim(text), "\\s+"))
    val punct   = length(regexp_replace(text, "[^.,;:!?]", ""))
    val stops   = stopHits(text, "en")
    // greatest(·,1) on the char denominator: empty docs score, not throw
    val charDen = greatest(nChars, lit(1))
    t.documents.select(
      col("doc_id"),
      nChars.cast("long").as("n_chars_text"),
      nToks.cast("long").as("n_tokens"),
      round(nChars.cast("double") / nToks, 6).as("mean_tok_len"),
      round(punct.cast("double") / charDen, 6).as("punct_ratio"),
      round(stops.cast("double") / nToks, 6).as("stopword_ratio"),
      round(
        least(nToks.cast("double") / 100, lit(1.0)) * 0.5 +
          (lit(1.0) - punct.cast("double") / charDen) * 0.25 +
          least(stops.cast("double") / nToks * 5, lit(1.0)) * 0.25, 6).as("quality"))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val hits =
      s"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), w -> list_contains([${stop("en").map("'" + _ + "'").mkString(",")}], w)))"
    s"""WITH f AS (
       |  SELECT doc_id, length(text) AS n_chars_text,
       |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
       |    $hits AS stops
       |  FROM documents
       |)
       |SELECT doc_id, n_chars_text, n_tokens,
       |  round(CAST(n_chars_text AS DOUBLE) / n_tokens, 6) AS mean_tok_len,
       |  round(CAST(punct AS DOUBLE) / greatest(n_chars_text, 1), 6) AS punct_ratio,
       |  round(CAST(stops AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       |  round(least(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5 +
       |        (1.0 - CAST(punct AS DOUBLE) / greatest(n_chars_text, 1)) * 0.25 +
       |        least(CAST(stops AS DOUBLE) / n_tokens * 5, 1.0) * 0.25, 6) AS quality
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Unigram LM quality proxy — the CCNet/Gopher LM-filter shape with
    * the simplest trainable model: score(doc) = mean log10 P(word),
    * P(word) = corpusFreq(word) / corpusTokens. "Training" is one
    * word-frequency aggregation; scoring joins the vocabulary back
    * against the token stream. The vocab join is deliberately
    * UN-hinted: vocab grows with the corpus (Heaps' law keeps it
    * sublinear but a web corpus still has ~10⁸ distinct tokens), so a
    * forced broadcast would bypass autoBroadcastJoinThreshold and OOM
    * at 100 TB. AQE broadcasts it at runtime whenever it measures
    * small; beyond that it stays a partitioned join whose build side
    * reuses the groupBy("word") shuffle — only (word) keys move, never
    * text. Low scores flag gibberish/rare-token soup, high scores flag
    * boilerplate — both ends get trimmed in a training-data pipeline.
    */
  def unigramLogProb(t: Tables): DataFrame = {
    val toks  = WordPipeline.tokens(t)
    val freqs = toks.groupBy("word").agg(count(lit(1)).as("freq"))
    val total = freqs.agg(sum(col("freq")).as("n_total"))
    toks.join(freqs, "word")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log10(col("freq").cast("double") / col("n_total"))), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  val unigramLogProbSql: String =
    s"""${WordPipeline.tokensCte}, freqs AS (
       |  SELECT word, count(*) AS freq FROM toks GROUP BY word
       |), tot AS (SELECT sum(freq) AS n_total FROM freqs)
       |SELECT doc_id, count(*) AS n_tokens,
       |  round(avg(log10(CAST(freq AS DOUBLE) / n_total)), 6) AS avg_logprob
       |FROM toks JOIN freqs USING (word) CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CCNet-style perplexity bucketing: documents split into
    * head/middle/tail thirds by language-model score (here the unigram
    * LM's avg log-prob — higher = more "in-distribution"), the standard
    * corpus-quality stratification before sampling training mixes.
    *
    * Scale design: an unpartitioned `ntile` window would plan as
    * Exchange SinglePartition — every (score, doc_id) row on ONE task,
    * which at 100 TB IS the job. Instead the two tercile CUT ROWS are
    * located with the distributed two-phase rank pattern: range-
    * partition on the total order (score desc, doc_id), collect only
    * the per-partition COUNTS (one Long per partition), turn them into
    * global-rank offsets, then fetch exactly the two rows at the cut
    * ranks from the two partitions that own them (`runJob` touches just
    * those partitions). Buckets are then assigned MAP-SIDE by comparing
    * each row against the 2 collected cut tuples — no global shuffle,
    * no single-partition window, and the LM scoring underneath scales
    * as [[unigramLogProb]]. The tie rule is exact `ntile` semantics
    * over the total order ((score, doc_id) — doc_id is unique): rank
    * r is in bucket b iff r <= cut_b, so the DuckDB ntile oracle
    * hash-matches bit-for-bit.
    */
  def pplBuckets(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    // Materialize the per-doc LM scores ONCE (tiny: 2 columns × 1
    // row/doc). A persist+unpersist-in-finally here would leave the
    // RETURNED plan recomputing the whole unigramLogProb chain (three
    // tokenize scans) at execution — the unpersist fires at plan-build
    // time, before the caller ever runs the plan. The checkpoint leaf
    // serves all three readers: the range sampler, the cut-location
    // jobs, and the final bucketing select — which also makes cuts and
    // bucket comparisons read the SAME materialized rows (strictly
    // tighter than the old cached-pass/recompute split, which leaned
    // on the 6dp rounding for cross-computation consistency).
    val lp = unigramLogProb(t).select(col("doc_id"), col("avg_logprob"))
      .transform(Lineage.cut)
    val sorted = lp
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("avg_logprob").desc, col("doc_id").asc)
      .sortWithinPartitions(col("avg_logprob").desc, col("doc_id").asc)
    locally {
      val rdd = sorted.select(col("avg_logprob"), col("doc_id")).rdd
        .map(r => (r.getDouble(0), r.getLong(1)))
      val counts = rdd
        // Long count, not Iterator.size (Int): a >2^31-row partition at
        // the target scale must not wrap the cut ranks
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.foldLeft(0L)((a, _) => a + 1))))
        .collect().sortBy(_._1).map(_._2)
      val n = counts.sum
      if (n == 0L) return lp.withColumn("ppl_bucket", lit(0L)).limit(0)
      // ntile(3): the first (n mod 3) buckets get one extra row, so
      // bucket b covers global ranks 1..cut_b
      val third = n / 3; val extra = n % 3
      val cutRanks = Seq(third + math.min(1L, extra), 2 * third + math.min(2L, extra))
      val offsets = counts.scanLeft(0L)(_ + _) // rows before partition i
      val cuts = cutRanks.map { rank =>
        val pid   = offsets.lastIndexWhere(_ < rank)
        val local = rank - offsets(pid) - 1 // 0-based within pid, Long-safe
        spark.sparkContext
          // hasNext-then-next, never bare next(): codegen row iterators
          // only fill their buffer inside hasNext()
          .runJob(rdd, (it: Iterator[(Double, Long)]) => {
            var skipped = 0L
            while (skipped < local && it.hasNext) { it.next(); skipped += 1 }
            require(skipped == local && it.hasNext,
              s"rank $rank: partition $pid shorter than its counted size")
            it.next()
          }, Seq(pid))
          .head
      }
      def atOrAbove(cut: (Double, Long)): Column =
        col("avg_logprob") > cut._1 ||
          (col("avg_logprob") === cut._1 && col("doc_id") <= cut._2)
      lp.select(col("doc_id"), col("avg_logprob"),
        when(atOrAbove(cuts(0)), 1L)
          .when(atOrAbove(cuts(1)), 2L)
          .otherwise(3L).as("ppl_bucket"))
        .orderBy("doc_id")
    }
  }

  val pplBucketsSql: String =
    s"""${WordPipeline.tokensCte}, freqs AS (
       |  SELECT word, count(*) AS freq FROM toks GROUP BY word
       |), tot AS (SELECT sum(freq) AS n_total FROM freqs
       |), lp AS (
       |  SELECT doc_id,
       |    round(avg(log10(CAST(freq AS DOUBLE) / n_total)), 6) AS avg_logprob
       |  FROM toks JOIN freqs USING (word) CROSS JOIN tot
       |  GROUP BY doc_id)
       |SELECT doc_id, avg_logprob,
       |  ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS ppl_bucket
       |FROM lp ORDER BY doc_id""".stripMargin

  /** Tokenizer vocabulary induction: word → contiguous token id
    * (1-based) ordered by (frequency desc, word asc), with a
    * `minCount` floor — the id-assignment step every tokenizer
    * training run performs after counting (the reference's
    * UniqueFilter + reducer counting, v2/main.py:112-120, taken to its
    * training-pipeline conclusion). Global rank assignment is the same
    * problem [[pplBuckets]] solves for two rows, needed here for EVERY
    * row, so the cut-point fetch generalizes to `zipWithIndex` over
    * the range-sorted vocabulary: `repartitionByRange` +
    * `sortWithinPartitions` give a deterministic total order (word is
    * unique after the count, so (freq, word) has no ties), and
    * zipWithIndex's internal per-partition count pass + offset map is
    * exactly the two-phase prefix sum — no global window, nothing ever
    * single-partition, and the count pass reuses the sort's shuffle
    * files rather than recomputing the aggregation. The corpus-sized
    * token table shuffles once (the count); only the vocabulary —
    * orders of magnitude smaller — is range-sorted.
    */
  def vocabBuildOf(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    val freqs = WordPipeline.tokensOf(docs)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
    val sorted = freqs
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("freq").desc, col("word").asc)
      .sortWithinPartitions(col("freq").desc, col("word").asc)
    val ranked = sorted.select(col("word"), col("freq")).rdd
      .map(r => (r.getString(0), r.getLong(1)))
      .zipWithIndex()
      .map { case ((word, freq), i) => org.apache.spark.sql.Row(word, freq, i + 1L) }
    spark.createDataFrame(ranked, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("freq", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("token_id", org.apache.spark.sql.types.LongType, nullable = false))))
      .orderBy("token_id")
  }

  def vocabBuild(t: Tables, minCount: Long = 2L): DataFrame =
    vocabBuildOf(t.documents, minCount)

  def vocabBuildSql(minCount: Long = 2L): String =
    s"""${WordPipeline.tokensCte}, freqs AS (
       |  SELECT word, count(*) AS freq FROM toks
       |  GROUP BY word HAVING count(*) >= $minCount
       |)
       |SELECT word, freq,
       |  CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS token_id
       |FROM freqs ORDER BY token_id""".stripMargin

  /** Count-min-sketch heavy hitters — the streaming/mergeable
    * counterpart of the exact `word_freq_topk`, and the second member
    * of the sketch family next to HLL (`q_approx_distinct`). The build
    * side is Spark's own `count_min_sketch` aggregate (fixed-size
    * mergeable bitmaps, partial sketches merging map-side); the probe
    * side reads estimates back INSIDE the query through the custom
    * [[graft.functions.CmsEstimate]] expression (Spark ships no reader
    * expression — without it the sketch has to collect to the driver).
    * Estimates are deterministic for a fixed seed; the spec pins the
    * CMS contract: never under exact, over by at most ~εN.
    *
    * NOTE: this is the COMPARISON GATE, so its candidate words come
    * from an exact top-k count on purpose — the exact counts are the
    * baseline the estimates are judged against. The production probe
    * shape, where candidates are a fixed/sampled list and NO exact
    * word aggregate exists anywhere in the plan, is [[cmsProbe]].
    */
  def cmsHeavyHitters(t: Tables, k: Int = 20, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val toks = WordPipeline.tokens(t)
    val sketch = toks.agg(
      count_min_sketch(col("word"), lit(eps), lit(confidence), lit(seed)).as("sk"))
    toks.groupBy("word").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("word")).limit(k)
      .crossJoin(broadcast(sketch))
      .select(col("word"), col("exact_count"),
        graft.functions.CmsEstimate(col("sk"), col("word")).as("cms_count"))
      .orderBy(col("exact_count").desc, col("word"))
  }

  /** The production CMS probe: estimate counts for a FIXED candidate
    * word list against the corpus sketch, with no exact word aggregate
    * anywhere in the plan — at 100 TB candidates come from a sample, a
    * prior sketch, or a watchlist, never from the exact count that
    * [[cmsHeavyHitters]] uses as its comparison baseline. The only
    * aggregate is the sketch build itself (fixed εN-wide state,
    * merging map-side); the candidate list rides a 1-row broadcast.
    * Rows-only gate: estimates are sketch-seed-specific, so no DuckDB
    * oracle — the spec pins never-under-exact on the fixed candidates.
    */
  def cmsProbe(t: Tables,
      candidates: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
        "for", "on", "with"),
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    val sketch = WordPipeline.tokens(t).agg(
      count_min_sketch(col("word"), lit(eps), lit(confidence), lit(seed)).as("sk"))
    candidates.toDF("word")
      .crossJoin(broadcast(sketch))
      .select(col("word"),
        graft.functions.CmsEstimate(col("sk"), col("word")).as("cms_count"))
      .orderBy("word")
  }

  /** The CMS contract as a HASH-GATED verdict grid (r12, extending the
    * r11-verdict-#4 gate class from GK/PCA to the whole sketch family):
    * for the fixed probe candidates, never-under (estimate ≥ exact,
    * CMS's structural guarantee — counters only ever over-count) and
    * within-εN (the probabilistic bound at the sketch's own ε, with
    * the fixed seed making it deterministic per corpus — verified at
    * sf0.001/0.01/0.1). The exact side is one filtered word aggregate
    * (candidate list pushed to the scan); oracle re-derives the
    * expected constant-true grid over the same literal candidates.
    */
  def cmsGate(t: Tables,
      candidates: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
        "for", "on", "with"),
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    val toks = WordPipeline.tokens(t)
    val sketchAndN = toks.agg(
      count_min_sketch(col("word"), lit(eps), lit(confidence), lit(seed)).as("sk"),
      count(lit(1)).as("n_tokens"))
    val exact = toks.filter(col("word").isin(candidates: _*))
      .groupBy("word").agg(count(lit(1)).as("exact_count"))
    val est = graft.functions.CmsEstimate(col("sk"), col("word"))
    candidates.toDF("word")
      .join(exact, Seq("word"), "left")
      .na.fill(0L, Seq("exact_count"))
      .crossJoin(broadcast(sketchAndN))
      .select(col("word"),
        (est >= col("exact_count")).as("never_under"),
        (est <= col("exact_count") + ceil(lit(eps) * col("n_tokens"))).as("within_eps"))
      .orderBy("word")
  }

  def cmsGateSql(candidates: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
      "for", "on", "with")): String =
    s"""SELECT word, true AS never_under, true AS within_eps
       |FROM (VALUES ${candidates.sorted.map(w => s"('$w')").mkString(", ")}) v(word)
       |ORDER BY word""".stripMargin

  /** Whitespace and BPE-ish token counts (letter runs / digits /
    * single non-alnum symbols — the GPT-2 pre-tokenizer shape).
    */
  def tokenCount(t: Tables): DataFrame = {
    val text = col("text")
    t.documents.select(
      col("doc_id"),
      size(split(trim(text), "\\s+")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** PII scrubbing for training corpora: emails, URLs and phone-shaped
    * numbers replaced by typed placeholder tokens. Pure regexp chain
    * (codegen'd); patterns intentionally conservative — precision over
    * recall, since false redactions destroy data.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "https?://[^\\s]+", "<URL>"),
      "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>")

  /** Whitespace-collapsed lowercase text → md5 fingerprint (md5 is
    * bit-identical across engines, so this is the portable content
    * address used by the dedup operators too).
    */
  def normalizedText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Gated normalization pass: the canonical text every downstream
    * operator (fingerprints, shingles, tokens) actually consumes,
    * surfaced as its own queryable step — md5 because hashing the
    * normalized text is both the gate and the 100 TB shape (16-byte
    * digests shuffle, documents don't).
    */
  def textNormalize(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      md5(normalizedText(col("text"))).as("norm_fp"),
      length(normalizedText(col("text"))).cast("long").as("n_chars_norm"),
      (length(col("text")) - length(normalizedText(col("text")))).cast("long").as("n_chars_removed"))
      .orderBy("doc_id")

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_fp,
      |  length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_chars_norm,
      |  length(text) - length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_chars_removed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Gated form of [[redactPii]]. The synthetic corpus carries no PII,
    * so the query plants a deterministic email/URL/phone (derived from
    * doc_id, identically in the DuckDB oracle) before redacting — the
    * gate exercises the actual regex chain, not a no-op pass-through.
    */
  def piiRedactQuery(t: Tables): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com via "),
      lit("http://host/p/"), col("doc_id").cast("string"), lit(" or 555-"),
      lpad(expr("doc_id % 1000").cast("string"), 3, "0"), lit("-"),
      lpad(expr("doc_id % 10000").cast("string"), 4, "0"))
    val red = redactPii(planted)
    t.documents.select(
      col("doc_id"),
      md5(red).as("red_fp"),
      size(regexp_extract_all(red, lit("<(EMAIL|URL|PHONE)>"), lit(0))).cast("long").as("n_redacted"))
      .orderBy("doc_id")
  }

  val piiRedactSql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via ' ||
      |    'http://host/p/' || CAST(doc_id AS VARCHAR) || ' or 555-' ||
      |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS ptext
      |  FROM documents
      |), red AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(ptext,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        'https?://[^\s]+', '<URL>', 'g'),
      |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS rtext
      |  FROM planted
      |)
      |SELECT doc_id, md5(rtext) AS red_fp,
      |  len(regexp_extract_all(rtext, '<(EMAIL|URL|PHONE)>')) AS n_redacted
      |FROM red ORDER BY doc_id""".stripMargin

  /** Interpolated bigram-LM quality score — the CCNet-filter shape one
    * order up from [[unigramLogProb]]: score(doc) = mean log10 of
    * λ·P(w₂|w₁) + (1−λ)·P(w₂), over every bigram instance. "Training"
    * is two frequency aggregations; scoring joins the n-gram tables
    * back against the bigram stream. The n-gram joins are deliberately
    * UN-hinted: a web corpus has billions of distinct bigrams, so a
    * forced broadcast of c12 (or even the unigram vocab) bypasses
    * autoBroadcastJoinThreshold and OOMs at 100 TB. AQE broadcasts
    * them at runtime when they measure small; at scale they stay
    * partitioned joins whose build sides reuse their own groupBy
    * shuffles — only (w1,w2) keys move, never document text. For an
    * additional scale lever, prune c12 with `minBigramCount` > 1: a
    * pruned bigram's probability backs off to the interpolation's
    * (1−λ)·P(w₂) unigram term, the standard Jelinek-Mercer behavior
    * (default 1 = exact, matches the oracle). Jagged-score docs (rare
    * continuations) fall to the bottom, boilerplate floats to the
    * top; both tails get trimmed.
    */
  def bigramLogProb(t: Tables, lambda: Double = 0.7, minBigramCount: Long = 1L): DataFrame = {
    import graft.functions.ShinglesExpr
    val toks = WordPipeline.tokens(t)
    val uni  = toks.groupBy("word").agg(count(lit(1)).as("c1"))
    val n    = uni.agg(sum(col("c1")).as("n_total"))
    val bi = t.documents
      .select(col("doc_id"), explode(ShinglesExpr.shingles(col("text"), 2)).as("bg"))
      .filter(col("bg") =!= "")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val c12raw = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c12 = if (minBigramCount > 1L) c12raw.filter(col("c12") >= minBigramCount) else c12raw
    bi
      .join(c12, Seq("w1", "w2"), if (minBigramCount > 1L) "left" else "inner")
      .join(uni.withColumnRenamed("word", "w1"), "w1")
      .join(uni.withColumnRenamed("word", "w2").withColumnRenamed("c1", "c2"), "w2")
      .crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log10(
          // pruned bigrams (minBigramCount > 1, left join ⇒ null c12)
          // back off to the unigram term alone — Jelinek-Mercer's
          // natural behavior; a no-op on the exact (inner-join) path
          lit(lambda) * coalesce(col("c12"), lit(0L)).cast("double") / col("c1") +
            lit(1.0 - lambda) * col("c2").cast("double") / col("n_total"))), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  def bigramLogProbSql(lambda: Double = 0.7): String =
    s"""WITH grams AS (
       |  SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk) - 1)) AS r(i)
       |  WHERE tk[i + 1] <> '' AND tk[i + 2] <> ''
       |), uni AS (
       |  SELECT word, count(*) AS c1 FROM (
       |    SELECT unnest(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
       |    FROM documents) WHERE word <> '' GROUP BY word
       |), tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_total FROM uni
       |), big AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(avg(log10(
       |    $lambda * CAST(c12 AS DOUBLE) / u1.c1 +
       |    ${1.0 - lambda} * CAST(u2.c1 AS DOUBLE) / n_total)), 6) AS avg_logprob
       |FROM grams g
       |JOIN big USING (w1, w2)
       |JOIN uni u1 ON u1.word = g.w1
       |JOIN uni u2 ON u2.word = g.w2
       |CROSS JOIN tot
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** RAG-prep chunking: overlapping token windows of `k` words at
    * stride `s` (< k ⇒ the overlap keeps sentences from being cut at
    * every boundary) — the unit retrieval corpora index and context
    * builders pack. Window math is pure column arithmetic; the output
    * carries the 16-byte chunk fingerprint (the join/dedup key at
    * scale — downstream chunk dedup is [[Dedup.exactOf]] on `chunk_fp`
    * unchanged), so nothing wider than ids+digests needs to shuffle
    * when this feeds an index build.
    */
  def chunkTextOf(docs: DataFrame, k: Int = 32, stride: Int = 24): DataFrame =
    docs
      .select(col("doc_id"),
        split(normalizedText(col("text")), " ").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      // windows start at i·stride, i ∈ [0, nwin); the last window may
      // be partial but every token is covered exactly ⌈k/s⌉-ish times
      .withColumn("nwin",
        when(col("n") > k, (col("n") - k + stride - 1) / stride + 1).otherwise(lit(1L)).cast("long"))
      .select(col("doc_id"), col("w"), col("n"),
        explode(expr("sequence(0, nwin - 1)")).as("i"))
      .select(col("doc_id"), col("i").as("chunk_id"),
        (col("i") * stride).as("start_tok"),
        slice(col("w"), (col("i") * stride + 1).cast("int"), lit(k)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")

  def chunkText(t: Tables, k: Int = 32, stride: Int = 24): DataFrame =
    chunkTextOf(t.documents, k, stride)

  def chunkTextSql(k: Int = 32, stride: Int = 24): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w,
       |    len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n
       |  FROM documents
       |), wins AS (
       |  SELECT doc_id, w, i
       |  FROM (SELECT doc_id, w,
       |          CASE WHEN n > $k THEN (n - $k + $stride - 1) // $stride + 1 ELSE 1 END AS nwin
       |        FROM d),
       |    unnest(range(0, nwin)) AS r(i)
       |)
       |SELECT doc_id, i AS chunk_id, i * $stride AS start_tok,
       |  len(w[i * $stride + 1 : i * $stride + $k]) AS n_tokens,
       |  md5(array_to_string(w[i * $stride + 1 : i * $stride + $k], ' ')) AS chunk_fp
       |FROM wins
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Interpolated Kneser-Ney bigram scoring — the smoothing the
    * KenLM/CCNet stack actually trains (Kneser & Ney 1995; Chen &
    * Goodman 1998), one published step past [[bigramLogProb]]'s
    * Jelinek-Mercer mix:
    *
    *   P_KN(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *               + D · N₁₊(w₁,·)/c(w₁·) · P_cont(w₂)
    *   P_cont(w₂)  = N₁₊(·,w₂) / N₁₊(·,·)
    *
    * with absolute discount D = 0.75. The continuation probability
    * scores a word by how many DISTINCT contexts it follows, not raw
    * frequency — the correction that keeps "Francisco" (frequent, one
    * context) from outranking genuinely productive words.
    *
    * Scale shape: every KN statistic is a re-aggregation of the ONE
    * bigram-type table c12 — left totals + distinct-continuation
    * counts per w₁ in one groupBy, distinct-context counts per w₂ in
    * another, the type total as a 1-row broadcast — so the corpus is
    * tokenized once, the fact-sized shuffle is the c12 groupBy, and
    * everything downstream moves (w1,w2)-keyed count rows only. The
    * stats joins are deliberately UN-hinted (the [[bigramLogProb]]
    * policy): web-scale bigram tables must not be forced broadcast;
    * AQE promotes them when they measure small. Within-corpus scoring
    * means every scored bigram is observed (c12 ≥ 1 > D), so the
    * discounted term never floors — the smoothing structure is still
    * what separates jagged rare-continuation docs from boilerplate.
    */
  def knBigramScore(t: Tables, discount: Double = 0.75): DataFrame =
    knBigramScoreOf(t.documents, discount)

  /** [[knBigramScore]] over any (doc_id, text) frame — the library
    * entry point; the gated form binds it to the documents table.
    */
  def knBigramScoreOf(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    import graft.functions.ShinglesExpr
    val bi = docs
      .select(col("doc_id"), explode(ShinglesExpr.shingles(col("text"), 2)).as("bg"))
      .filter(col("bg") =!= "")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // per-w1: bigram-token total (the KN denominator — NOT the unigram
    // count: doc-final tokens start no bigram) + distinct continuations
    val left = c12.groupBy("w1")
      .agg(sum(col("c12")).as("c1left"), count(lit(1)).as("n1w1"))
    // per-w2: distinct contexts it follows
    val cont = c12.groupBy(col("w2"))
      .agg(count(lit(1)).as("ncont"))
    val types = c12.agg(count(lit(1)).as("n_types"))
    bi
      .join(c12, Seq("w1", "w2"))
      .join(left, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log10(
          greatest(col("c12").cast("double") - lit(discount), lit(0.0)) / col("c1left") +
            lit(discount) * col("n1w1").cast("double") / col("c1left") *
              (col("ncont").cast("double") / col("n_types")))), 6).as("avg_kn_logprob"))
      .orderBy("doc_id")
  }

  def knBigramScoreSql(discount: Double = 0.75): String =
    s"""WITH grams AS (
       |  SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk) - 1)) AS r(i)
       |  WHERE tk[i + 1] <> '' AND tk[i + 2] <> ''
       |), c12 AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2
       |), lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1left, count(*) AS n1w1
       |           FROM c12 GROUP BY w1
       |), cont AS (SELECT w2, count(*) AS ncont FROM c12 GROUP BY w2
       |), ttl AS (SELECT count(*) AS n_types FROM c12)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(avg(log10(
       |    greatest(CAST(c12 AS DOUBLE) - $discount, 0.0) / c1left +
       |    $discount * CAST(n1w1 AS DOUBLE) / c1left *
       |      (CAST(ncont AS DOUBLE) / n_types))), 6) AS avg_kn_logprob
       |FROM grams g
       |JOIN c12 USING (w1, w2)
       |JOIN lft USING (w1)
       |JOIN cont USING (w2)
       |CROSS JOIN ttl
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signal: fraction of word 3-grams that are
    * duplicates within the document (1 − distinct/total). High values
    * flag boilerplate/spam for training-data filtering.
    */
  def repetitionRatio(t: Tables, n: Int = 3): DataFrame = {
    import graft.functions.ShinglesExpr
    t.documents
      .select(col("doc_id"), explode(ShinglesExpr.shingles(col("text"), n)).as("g"))
      .filter(col("g") =!= "")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("g")).as("distinct_ngrams"))
      .select(col("doc_id"), col("total_ngrams"), col("distinct_ngrams"),
        round(lit(1.0) - col("distinct_ngrams").cast("double") / col("total_ngrams"), 6)
          .as("rep_ratio"))
      .orderBy("doc_id")
  }

  def repetitionRatioSql(n: Int = 3): String =
    s"""WITH grams AS (
       |  SELECT doc_id, array_to_string(tk[i + 1 : i + $n], ' ') AS g
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk) - $n + 1)) AS r(i)
       |  WHERE array_to_string(tk[i + 1 : i + $n], ' ') <> ''
       |)
       |SELECT doc_id, count(*) AS total_ngrams, count(DISTINCT g) AS distinct_ngrams,
       |  round(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS rep_ratio
       |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bigram collocations by pointwise mutual information:
    * pmi(w₁w₂) = ln( (c₁₂/M) / ((c₁/N)(c₂/N)) ), bigrams with support
    * ≥ minCount. Bigram extraction reuses the native ShinglesExpr;
    * unigram/bigram totals are two broadcast scalars. The vocab joins
    * are un-hinted (vocab is corpus-dependent — AQE broadcasts when it
    * measures small, partitioned join beyond); the stream side is
    * already pruned to support ≥ minCount so both joins stay tiny.
    */
  def bigramPmi(t: Tables, minCount: Int = 20, k: Int = 50): DataFrame = {
    import graft.functions.ShinglesExpr
    val uni = t.documents
      .select(explode(ShinglesExpr.shingles(col("text"), 1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val n = uni.agg(sum(col("c1")).as("n"))
    val bi = t.documents
      .select(explode(ShinglesExpr.shingles(col("text"), 2)).as("bg"))
      .filter(col("bg") =!= "")
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val m = t.documents
      .select(explode(ShinglesExpr.shingles(col("text"), 2)).as("bg"))
      .filter(col("bg") =!= "")
      .agg(count(lit(1)).as("m"))
    bi
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "cw1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "cw2"), "w2")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(m))
      .select(col("bg"), col("c12"),
        round(log((col("c12").cast("double") / col("m")) /
          ((col("cw1").cast("double") / col("n")) * (col("cw2").cast("double") / col("n")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bg"))
      .limit(k)
  }

  def bigramPmiSql(minCount: Int = 20, k: Int = 50): String =
    s"""WITH toks AS (
       |  SELECT lower(trim(w)) AS w
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
       |  WHERE lower(trim(w)) <> ''
       |), uni AS (
       |  SELECT w, count(*) AS c1 FROM toks GROUP BY w
       |), n AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni
       |), bigrams AS (
       |  SELECT array_to_string(tk[i + 1 : i + 2], ' ') AS bg
       |  FROM (
       |    SELECT regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk) - 1)) AS r(i)
       |  WHERE array_to_string(tk[i + 1 : i + 2], ' ') <> ''
       |), m AS (SELECT count(*) AS m FROM bigrams
       |), bi AS (
       |  SELECT bg, count(*) AS c12 FROM bigrams GROUP BY bg HAVING count(*) >= $minCount
       |)
       |SELECT bg, c12,
       |  round(ln((CAST(c12 AS DOUBLE) / m.m) /
       |    ((CAST(u1.c1 AS DOUBLE) / n.n) * (CAST(u2.c1 AS DOUBLE) / n.n))), 6) AS pmi
       |FROM bi
       |JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
       |JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]
       |CROSS JOIN n CROSS JOIN m
       |ORDER BY pmi DESC, bg LIMIT $k""".stripMargin

  def fingerprint(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), md5(normalizedText(col("text"))).as("fp"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-source lexical-diversity profile: unigram Shannon entropy
    * (nats), type-token ratio and hapax fraction — the monitoring
    * triple that flags a source gone templated/spammy (entropy and TTR
    * collapse) before it poisons the mix; the drift twin of
    * [[graft.operators.Curate.domainDrift]]'s KL. Shape: one
    * (source, word) map-side-combined count, then a per-source
    * aggregate over the vocab rows — entropy via the identity
    * H = ln N − (Σ c·ln c)/N, so no per-row probability join; only
    * (word, count) pairs shuffle.
    */
  def sourceEntropyOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(toks(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * log(col("c"))).as("_clnc"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(log(col("n_tokens")) - col("_clnc") / col("n_tokens"), 6).as("entropy_nats"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("type_token_ratio"),
        round(col("_hapax").cast("double") / col("n_types"), 6).as("hapax_fraction"))
      .orderBy("source")

  def sourceEntropy(t: Tables): DataFrame = sourceEntropyOf(t.documents)

  val sourceEntropySql: String =
    """WITH toks AS (
      |  SELECT source, lower(trim(w)) AS word
      |  FROM (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
      |  WHERE lower(trim(w)) <> ''
      |), wc AS (SELECT source, word, count(*) AS c FROM toks GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
      |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy_nats,
      |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio,
      |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
      |    AS hapax_fraction
      |FROM wc GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------- langId accuracy eval

  /** Confusion matrix of the heuristic language ID against the
    * corpus's ground-truth `lang` column — the accuracy readout the
    * `lang_id` op itself never reports (every filter built on it
    * inherits these error rates). One \|langs\|² aggregate; recall
    * divides exact LONGs, unrounded. The `other` prediction row
    * captures the heuristic's abstentions.
    */
  def langIdConfusionOf(docs: DataFrame): DataFrame = {
    val preds = docs.select(col("lang").as("actual"),
      langIdCol(col("text")).as("predicted"))
    val perActual = preds.groupBy(col("actual")).agg(count(lit(1)).as("n_actual"))
    preds.groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(perActual), "actual")
      .select(col("actual"), col("predicted"), col("n"),
        (col("n").cast("double") / col("n_actual").cast("double"))
          .as("share_of_actual"))
      .orderBy("actual", "predicted")
  }

  def langIdConfusion(t: Tables): DataFrame = langIdConfusionOf(t.documents)

  val langIdConfusionSql: String =
    s"""WITH preds AS (
       |  SELECT d.lang AS actual, p.lang_pred AS predicted
       |  FROM documents d JOIN ($langIdSql) p ON p.doc_id = d.doc_id
       |), per_actual AS (
       |  SELECT actual, count(*) AS n_actual FROM preds GROUP BY actual
       |)
       |SELECT p.actual, p.predicted, count(*) AS n,
       |  CAST(count(*) AS DOUBLE) / CAST(any_value(a.n_actual) AS DOUBLE)
       |    AS share_of_actual
       |FROM preds p JOIN per_actual a ON a.actual = p.actual
       |GROUP BY p.actual, p.predicted
       |ORDER BY p.actual, p.predicted""".stripMargin
}
