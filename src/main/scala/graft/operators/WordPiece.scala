package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** WordPiece tokenizer training + greedy encoding — the THIRD major
  * subword architecture beside BPE ([[Bpe]]) and unigram-LM
  * ([[UnigramLm]]): the BERT-family tokenizer (Schuster & Nakajima
  * 2012; Wu et al. 2016 §4.1). Same merge loop as BPE but a different
  * objective: instead of raw pair frequency, a merge maximizes the
  * corpus-likelihood gain score
  *
  *   score(a, b) = count(ab) / (count(a) · count(b))
  *
  * under the current segmentation — the pair whose JOINT occurrence is
  * most surprising given its parts' marginals (argmax of the
  * per-occurrence log-likelihood delta). Non-initial pieces carry the
  * `##` continuation prefix from the very first character split, so a
  * learned piece is position-aware ("he" the word-start and "##he" the
  * suffix train separately — the property BPE lacks and BERT's vocab
  * depends on).
  *
  * Like the reference's pipelines, the corpus is touched exactly once
  * (the word count — v2/core/transformers/aggregators.py:13 computes
  * exactly this table); every training round then runs on the
  * Heaps-law-sublinear VOCABULARY, one map-side-combined pair aggregate
  * + one symbol aggregate, and only the 1-row argmax visits the driver
  * (the [[Bpe.bpeTrain]] scale shape, unchanged at 100 TB).
  */
object WordPiece {

  /** The initial `##`-marked symbol split as a codegen'd Column chain:
    * every code point becomes " ##c", then the word-initial marker is
    * stripped — " c1 ##c2 ##c3 " with a leading and trailing space so
    * pair rewrite can match " a b " literally. Regex "." is a CODE
    * POINT in both Java regex and DuckDB's RE2 (the [[Bpe]] precedent),
    * so supplementary-plane characters stay whole. A corpus word that
    * itself contains '#' composes with the marker (" # ##h ..." for
    * "#h…") — unambiguous because symbols are space-delimited, and
    * both engines apply the identical rewrite.
    */
  private def sym0(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(regexp_replace(regexp_replace(word, "(.)", " ##$1"), "^ ##", " "), lit(" "))

  /** Train `merges` WordPiece merges; returns the rank-ordered merge
    * table (rank, lhs, rhs, pair_freq, lhs_freq, rhs_freq) — the
    * marginals ride along so the score each rank won with is
    * reconstructable (score itself is their single IEEE division,
    * identical in both engines, and deliberately NOT emitted: the
    * exact LONGs are the portable artifact).
    *
    * Per round: one pair aggregate over the vocab symbol strings
    * (len ≥ 2 words only), one symbol-marginal aggregate (ALL words —
    * a fully-merged word still contributes its symbol's count), a
    * two-key join of the pair table against the alphabet-sized
    * marginal table, argmax by (score desc, lhs, rhs — the
    * deterministic cross-engine tie-break), then the literal rewrite
    * " a b " → " a·strip##(b) " (WordPiece merge semantics: the
    * right's continuation marker is absorbed — merging "##l","##o"
    * mints "##lo"). The marginal join stays distributed: at 100 TB the
    * symbol table is alphabet+merges-sized, but nothing REQUIRES it to
    * fit a driver.
    */
  def wpTrain(t: Tables, merges: Int = 8): DataFrame =
    wpTrainOf(WordPipeline.tokens(t).groupBy("word").agg(count(lit(1)).as("freq")), merges)

  /** [[wpTrain]] over an explicit (word, freq) vocabulary table — the
    * seam WordPieceSpec plants adversarial corpora through.
    */
  def wpTrainOf(words: DataFrame, merges: Int): DataFrame = {
    val spark = words.sparkSession
    var syms = words.select(col("word"), col("freq"), sym0(col("word")).as("sym"))
      .cache()
    val out = Seq.newBuilder[(Long, String, String, Long, Long, Long)]
    var exhausted = false
    // deferred-by-one unpersist — see Bpe.bpeTrain: the next round's
    // argmax collect materializes the new cache, so the per-round
    // count() job is gone and the parent retires one round late
    var retired: DataFrame = null
    for (i <- 1 to merges if !exhausted) {
      val arr = syms.select(col("freq"), split(trim(col("sym")), " ").as("s"))
      // NOTE (r15 round 2, negative result kept): a single-pass form —
      // emit one (last-symbol, NULL) row per word next to the pairs so
      // the marginal table g(t) = Σf over rows with a = t derives FROM
      // the pair aggregate, dropping the second vocab-scale explode —
      // produces identical LONGs but measured WORSE in an interleaved
      // sf0.1 A/B (old 4.17-4.59 s vs new 5.59-6.58 s, 3 rounds; a
      // localCheckpoint of the per-round pair table did not rescue it):
      // the marginal rollup + argmax join then re-run the small final
      // aggregate once per reference and the round's job grows from 74
      // to 90 stages, and at this vocab size the added ~100 ms-floor
      // stages cost more than the saved explode. The two-pass form
      // below keeps each round at two map-side-combined aggregates.
      val pairs = arr
        .filter(size(col("s")) >= 2)
        .select(col("freq"), explode(
          expr("transform(sequence(0, size(s) - 2), j -> struct(s[j] AS a, s[j + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("f"))
      val marg = arr
        .select(col("freq"), explode(col("s")).as("t"))
        .groupBy(col("t"))
        .agg(sum(col("freq")).as("g"))
      val best = pairs
        .join(marg.select(col("t").as("a"), col("g").as("ga")), "a")
        .join(marg.select(col("t").as("b"), col("g").as("gb")), "b")
        // marginals cast to double BEFORE the product (r14, ADVICE r13):
        // ga*gb as Long wraps silently (non-ANSI) once the marginals
        // pass ~3e9 each, while the DuckDB twin's HUGEINT product stays
        // exact — the argmax could diverge exactly at the scale the
        // operator targets. Double-first multiply is IEEE-identical in
        // both engines (the twin mirrors it), exact while each marginal
        // < 2^53; the accepted cost is last-ulp tie risk on scores that
        // differ only past double precision, which the (a, b) tie-break
        // then resolves identically in both engines anyway.
        .orderBy((col("f").cast("double") /
            (col("ga").cast("double") * col("gb").cast("double"))).desc,
          col("a"), col("b"))
        .select(col("a"), col("b"), col("f"), col("ga"), col("gb"))
        .limit(1)
        .collect()
      if (retired != null) { retired.unpersist(blocking = false); retired = null }
      if (best.isEmpty) exhausted = true // vocab fully merged — emit what's learned
      else {
        val r = best(0)
        val (a, b) = (r.getString(0), r.getString(1))
        out += ((i.toLong, a, b, r.getLong(2), r.getLong(3), r.getLong(4)))
        val composed = a + b.stripPrefix("##")
        retired = syms
        syms = syms.withColumn("sym",
          replace(col("sym"),
            concat(lit(" "), lit(a), lit(" "), lit(b), lit(" ")),
            concat(lit(" "), lit(composed), lit(" "))))
          .cache()
        syms = Lineage.cutEvery(syms, i, merges)
      }
    }
    if (retired != null) retired.unpersist(blocking = false)
    syms.unpersist(blocking = false)
    import spark.implicits._
    out.result()
      .toDF("rank", "lhs", "rhs", "pair_freq", "lhs_freq", "rhs_freq")
      .orderBy("rank")
  }

  /** DuckDB twin: the rounds unrolled as CTEs ([[Bpe.bpeTrainSql]]
    * pattern). w/u CTEs are MATERIALIZED — each is referenced more
    * than once, and default inlining would grow the plan exponentially
    * in `merges`. The argmax ORDER BY divides the same exact LONGs as
    * the Spark side (IEEE division of identical integers is identical
    * in both engines), tie-broken (lhs, rhs).
    */
  def wpTrainSql(merges: Int = 8): String = {
    val base =
      """WITH toks AS (
        |  SELECT lower(trim(w)) AS word
        |  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
        |  WHERE lower(trim(w)) <> ''
        |), words AS (SELECT word, count(*) AS freq FROM toks GROUP BY word),
        |w0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    regexp_replace(regexp_replace(word, '(.)', ' ##\1', 'g'), '^ ##', ' ') || ' ' AS sym
        |  FROM words
        |)""".stripMargin
    val rounds = (1 to merges).map { i =>
      s"""p$i AS (
         |  SELECT s[j] AS a, s[j + 1] AS b, sum(freq) AS f
         |  FROM (SELECT freq, regexp_split_to_array(trim(sym), ' ') AS s FROM w${i - 1}),
         |    unnest(range(1, len(s))) r(j)
         |  WHERE len(s) >= 2
         |  GROUP BY 1, 2
         |), u$i AS MATERIALIZED (
         |  SELECT t, sum(freq) AS g
         |  FROM (SELECT freq, unnest(regexp_split_to_array(trim(sym), ' ')) AS t FROM w${i - 1})
         |  GROUP BY 1
         |), b$i AS MATERIALIZED (
         |  SELECT p.a, p.b, p.f, ua.g AS ga, ub.g AS gb
         |  FROM p$i p JOIN u$i ua ON p.a = ua.t JOIN u$i ub ON p.b = ub.t
         |  ORDER BY CAST(p.f AS DOUBLE) / (CAST(ua.g AS DOUBLE) * CAST(ub.g AS DOUBLE)) DESC, p.a, p.b
         |  LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(sym, ' ' || a || ' ' || b || ' ',
         |            ' ' || a || regexp_replace(b, '^##', '') || ' ') AS sym
         |  FROM w${i - 1} CROSS JOIN b$i
         |)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to merges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, a AS lhs, b AS rhs, " +
        s"CAST(f AS BIGINT) AS pair_freq, CAST(ga AS BIGINT) AS lhs_freq, " +
        s"CAST(gb AS BIGINT) AS rhs_freq FROM b$i")
      .mkString("\nUNION ALL\n")
    s"$base,\n$rounds\n$sel\nORDER BY rank"
  }

  // ---- greedy encoding (WordPiece inference: longest-match-first) ----

  /** The covered character set of [[defaultVocab]] — a–z minus q and z,
    * so the natural corpus exercises the [UNK] path ("queen", "zero",
    * digits, punctuation-glued tokens). With every covered char present
    * in BOTH its word-initial and `##` continuation form, greedy
    * longest-match can never dead-end on a covered word (the 1-char
    * fallback always matches), so a word is [UNK] EXACTLY iff it
    * contains an uncovered character — the theorem the encode gate's
    * oracle re-derives independently via the char-class rule while the
    * Spark side earns it by actually running the matcher.
    */
  val coveredChars: Seq[Char] = ('a' to 'z').filterNot(c => c == 'q' || c == 'z')

  /** Fixed literal vocabulary for the cross-engine encode gate (the
    * [[Bpe.defaultMerges]] trick — a TRAINED vocab is data-dependent
    * and can't be inlined into a static oracle; WordPieceSpec wires a
    * [[wpTrain]]-learned vocab through the same matcher). Singles in
    * both positions plus common English word-start and continuation
    * pieces.
    */
  val defaultVocab: Seq[String] =
    coveredChars.map(_.toString) ++ coveredChars.map("##" + _) ++
      Seq("th", "the", "an", "in", "on", "re", "he", "wh") ++
      Seq("##he", "##er", "##ed", "##ing", "##nd", "##at", "##es", "##on", "##ion")

  /** Greedy longest-match-first segmentation (the WordPiece inference
    * rule): at each position take the LONGEST vocab piece (continuation
    * candidates carry the `##` prefix); None = [UNK] (some position has
    * no match). UTF-16 slicing is safe here: a slice that splits a
    * surrogate pair can never equal a vocab piece, so astral-charactered
    * words fall to [UNK] — exactly what the char-coverage rule says.
    */
  private[operators] def segmentGreedy(w: String, vocab: Set[String],
      maxPiece: Int): Option[List[String]] = {
    val out = List.newBuilder[String]
    var i = 0
    var first = true
    while (i < w.length) {
      var l = math.min(maxPiece, w.length - i)
      var found: String = null
      while (l >= 1 && found == null) {
        val cand = (if (first) "" else "##") + w.substring(i, i + l)
        if (vocab(cand)) found = cand
        l -= 1
      }
      if (found == null) return None
      out += found
      i += found.length - (if (first) 0 else 2)
      first = false
    }
    Some(out.result())
  }

  private def maxPieceLen(vocab: Seq[String]): Int =
    vocab.map(p => p.stripPrefix("##").length).max

  /** Encode a (word) column under a vocabulary: one row per (word,
    * pos, piece), "[UNK]" as the single piece of an uncovered word —
    * the [[UnigramLm.encodeOf]] shape. Vocab broadcasts; the corpus
    * streams once (distinct words only — the per-occurrence fan-back
    * is the caller's join if it needs one).
    */
  def wpEncodeOf(words: DataFrame, vocab: Seq[String] = defaultVocab): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val maxLen = maxPieceLen(vocab)
    val bc = spark.sparkContext.broadcast(vocab.toSet)
    words.select(col("word")).distinct().as[String]
      .flatMap { w =>
        segmentGreedy(w, bc.value, maxLen) match {
          case Some(ps) => ps.zipWithIndex.map { case (p, i) => (w, i.toLong, p) }
          case None     => Seq((w, 0L, "[UNK]"))
        }
      }
      .toDF("word", "pos", "piece")
      .orderBy("word", "pos")
  }

  /** HASH-GATED verdict grid for the greedy encoder, per word-length
    * bucket (code points, capped at 5 — the [[UnigramLm.encodeGate]]
    * bucketing) over every distinct corpus word under [[defaultVocab]]:
    *   - `n_words`: distinct words in the bucket (both engines count).
    *   - `n_unk`: words the matcher REJECTS — the Spark side earns the
    *     number by running greedy longest-match; the oracle re-derives
    *     it INDEPENDENTLY from the char-coverage theorem (a word is
    *     [UNK] iff it contains a character outside [[coveredChars]]) —
    *     a matcher that dead-ends on a coverable word, mis-slices, or
    *     forgets the 1-char fallback breaks the hash.
    *   - `reconstruct_ok`: for every covered word, the pieces with
    *     their `##` markers stripped concatenate back to the word
    *     exactly (earned; constant-true in the oracle).
    */
  def wpEncodeGate(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val maxLen = maxPieceLen(defaultVocab)
    val bc = spark.sparkContext.broadcast(defaultVocab.toSet)
    val perWord = WordPipeline.tokens(t).select(col("word")).distinct().as[String]
      .map { w =>
        val bucket = math.min(w.codePointCount(0, w.length), 5).toLong
        segmentGreedy(w, bc.value, maxLen) match {
          case None     => (bucket, 1L, true) // unk: reconstruction vacuous
          case Some(ps) => (bucket, 0L, ps.map(_.stripPrefix("##")).mkString == w)
        }
      }
      .toDF("len_bucket", "unk", "rok")
    perWord.groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_words"), sum(col("unk")).as("n_unk"),
        min(col("rok")).as("reconstruct_ok"))
      .orderBy("len_bucket")
  }

  val wpEncodeGateSql: String = {
    // covered = a–z minus q,z → the uncovered char class is [^a-pr-y]
    s"""${WordPipeline.tokensCte}
       |SELECT LEAST(length(word), 5) AS len_bucket, count(*) AS n_words,
       |  CAST(sum(CASE WHEN regexp_matches(word, '[^a-pr-y]') THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       |  true AS reconstruct_ok
       |FROM (SELECT DISTINCT word FROM toks)
       |GROUP BY 1 ORDER BY len_bucket""".stripMargin
  }
}
