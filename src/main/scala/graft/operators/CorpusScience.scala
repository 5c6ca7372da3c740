package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Corpus-statistics operators for tokenizer/vocabulary design — the
  * measurements run before committing to a vocab size or estimating
  * how vocabulary scales to the full crawl. Companions to
  * [[Analytics2.zipfFitOf]]'s frequency-law fit.
  */
object CorpusScience {

  // ------------------------------------------------- vocab coverage

  /** Token coverage of the top-k vocabulary for a ladder of k's — the
    * vocab-sizing curve ("how much of the corpus do 1k word types
    * cover?"). One word-frequency aggregate; the top-maxK slice is
    * TakeOrdered; ranks within the ≤maxK slice come from a triangular
    * join (bounded by maxK², never corpus-sized); each k's coverage is
    * a conditional sum against the 1-row broadcast total. Adding a k
    * costs one more grid row, not another corpus pass.
    */
  def vocabCoverageOf(tokens: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    val maxK  = ks.max
    val freqs = tokens.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val total = freqs.agg(sum(col("freq")).as("total"),
      count(lit(1)).as("vocab_size"))
    val top = freqs.orderBy(col("freq").desc, col("word")).limit(maxK)
    val ranked = top.as("a")
      .join(top.select(col("freq").as("f2"), col("word").as("w2")).as("b"),
        col("f2") > col("freq") || (col("f2") === col("freq") && col("w2") < col("word")),
        "left")
      .groupBy(col("word"), col("freq"))
      .agg((count(col("w2")) + 1).as("rank"))
    val grid = tokens.sparkSession.range(1)
      .select(explode(array(ks.sorted.map(lit): _*)).as("k"))
    grid.join(ranked, col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(col("freq")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("k").cast("long").as("k"), col("vocab_size"),
        round(col("covered").cast("double") / col("total"), 6).as("coverage"))
      .orderBy("k")
  }

  def vocabCoverage(t: Tables): DataFrame = vocabCoverageOf(WordPipeline.tokens(t))

  def vocabCoverageSql(ks: Seq[Int] = Seq(10, 100, 1000)): String =
    s"""${WordPipeline.tokensCte}, freqs AS (
       |  SELECT word, count(*) AS freq FROM toks GROUP BY 1
       |), tot AS (SELECT sum(freq) AS total, count(*) AS vocab_size FROM freqs),
       |ranked AS (
       |  SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank
       |  FROM freqs ORDER BY freq DESC, word LIMIT ${ks.max}
       |)
       |SELECT CAST(g.k AS BIGINT) AS k, t.vocab_size,
       |  round(CAST(sum(r.freq) AS DOUBLE) / t.total, 6) AS coverage
       |FROM (SELECT unnest(${ks.sorted.mkString("[", ",", "]")}) AS k) g
       |JOIN ranked r ON r.rank <= g.k
       |CROSS JOIN tot t
       |GROUP BY 1, 2, t.total
       |ORDER BY k""".stripMargin

  // ------------------------------------------------------ Heaps' law

  /** Heaps'-law fit V(N) ≈ K·N^β: vocabulary growth measured on a
    * `buckets`-point curve over the corpus in doc_id order, β from a
    * log-log OLS over those points. The curve is computed WITHOUT any
    * expanding distinct: a word's first-seen bucket is one min
    * aggregate, per-bucket news/token counts collapse to ≤`buckets`
    * rows, and the cumulative sums are a triangular join over that
    * grid — the [[Analytics.runningDistinctOf]] identity applied to
    * vocabulary. β ≈ 0.4-0.6 for natural text; β drifting up flags
    * vocabulary explosion (noise/IDs), down flags templating.
    */
  def heapsLawOf(tokens: DataFrame, buckets: Int = 20): DataFrame = {
    val bounds = tokens.agg(max(col("doc_id")).as("max_id"))
    val bucketed = tokens.crossJoin(broadcast(bounds))
      // explicit floor: a bare double→int cast truncates in Spark but
      // rounds in DuckDB — floor is the one shared semantics
      .select(floor(col("doc_id") * buckets / (col("max_id") + 1)).cast("int").as("b"),
        col("word"))
    val tokensPer = bucketed.groupBy(col("b")).agg(count(lit(1)).as("toks"))
    val newsPer = bucketed
      .groupBy(col("word")).agg(min(col("b")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("news"))
    val grid = tokensPer.join(newsPer, Seq("b"), "left")
      .select(col("b"), col("toks"), coalesce(col("news"), lit(0L)).as("news"))
    val cum = grid.as("a")
      .join(grid.select(col("b").as("b2"), col("toks").as("t2"), col("news").as("n2")).as("x"),
        col("b2") <= col("a.b"))
      .groupBy(col("a.b").as("b"))
      .agg(sum(col("t2")).as("cum_tokens"), sum(col("n2")).as("cum_vocab"))
      .select(log(col("cum_tokens").cast("double")).as("x"),
        log(col("cum_vocab").cast("double")).as("y"))
    cum
      .groupBy()
      .agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_points"),
        // + 0.0 canonicalizes IEEE −0.0 (a saturated vocabulary fits
        // slope exactly 0; the engines disagree on the sign of zero);
        // when-guard: a 1-point curve has no fit → NULL, not ANSI /0
        when(col("n_points") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("n_points") * col("sxy") - col("sx") * col("sy")) /
            (col("n_points") * col("sxx") - col("sx") * col("sx")), 4) + lit(0.0))
          .as("heaps_beta"),
        when(col("n_points") * col("sxx") - col("sx") * col("sx") =!= 0,
          round(exp((col("sy") - (col("n_points") * col("sxy") - col("sx") * col("sy")) /
            (col("n_points") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n_points")), 4)).as("heaps_k"))
  }

  def heapsLaw(t: Tables): DataFrame = heapsLawOf(WordPipeline.tokens(t))

  def heapsLawSql(buckets: Int = 20): String =
    s"""${WordPipeline.tokensCte}, bounds AS (SELECT max(doc_id) AS max_id FROM toks),
       |bucketed AS (
       |  SELECT CAST(floor(doc_id * $buckets / (max_id + 1)) AS INT) AS b, word
       |  FROM toks CROSS JOIN bounds
       |), tokens_per AS (SELECT b, count(*) AS toks FROM bucketed GROUP BY 1),
       |news_per AS (
       |  SELECT b, count(*) AS news FROM (
       |    SELECT word, min(b) AS b FROM bucketed GROUP BY 1) GROUP BY 1
       |), grid AS (
       |  SELECT t.b, t.toks, coalesce(n.news, 0) AS news
       |  FROM tokens_per t LEFT JOIN news_per n USING (b)
       |), cum AS (
       |  SELECT ln(CAST(sum(toks) OVER w AS DOUBLE)) AS x,
       |    ln(CAST(sum(news) OVER w AS DOUBLE)) AS y
       |  FROM grid
       |  WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), s AS (
       |  SELECT count(*) AS n_points, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * y) AS sxy, sum(x * x) AS sxx
       |  FROM cum
       |)
       |SELECT n_points,
       |  CASE WHEN n_points * sxx - sx * sx <> 0 THEN
       |    round((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 4) + 0.0 END AS heaps_beta,
       |  CASE WHEN n_points * sxx - sx * sx <> 0 THEN
       |    round(exp((sy - (n_points * sxy - sx * sy) / (n_points * sxx - sx * sx) * sx)
       |      / n_points), 4) END AS heaps_k
       |FROM s""".stripMargin

  // ------------------------------------------------------ skip-grams

  /** Skip-gram (center, context) pair counts within a ±`window` token
    * distance — the training-pair extraction behind word2vec/GloVe
    * embeddings. Positions are indices over the NORMALIZED token
    * sequence (empties dropped, then re-ranked per doc — a per-doc
    * window, never global), so the pair geometry is identical on both
    * engines whatever the raw whitespace looked like. Pair generation
    * is an EQUI-join: each position joins (doc_id, pos+δ) for
    * δ ∈ 1..window via a literal offset explode — w× the token count,
    * the honest cost of skip-gram extraction, with no per-doc
    * quadratic blowup and nothing non-equi anywhere. Both directions
    * of each co-occurrence are emitted (forward pairs + their
    * mirrors), matching the symmetric-context convention. Output is
    * the top-`topK` pairs by count with full tie-breaks — TakeOrdered,
    * no global window.
    */
  /** Symmetric (center, context, n) pair COUNTS — the substrate shared
    * by [[skipgramsOf]] (raw counts) and [[skipgramPmiOf]] (association
    * scores). The corpus-pair join runs ONCE, forward-only; symmetry is
    * applied by mirroring the already-aggregated sparse count table
    * (sym(c,x) = fwd(c,x) + fwd(x,c)) — a vocab²-sparse re-agg instead
    * of a second corpus-token pass (the naive both-directions union
    * plans the scan + per-doc window + join TWICE; plan-snapshot
    * verified).
    */
  private def skipgramCountsOf(docs: DataFrame, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), lower(trim(col("w"))).as("word"))
      .filter(col("word") =!= "")
      .withColumn("npos", row_number().over(byDoc).cast("long"))
      .select("doc_id", "npos", "word")
    val offsets = (1 to window).map(lit(_))
    val fwdCounts = toks.as("a")
      .withColumn("d", explode(array(offsets: _*)))
      .join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.npos") === col("a.npos") + col("d"))
      .select(col("a.word").as("center"), col("b.word").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
    fwdCounts
      .unionByName(fwdCounts.select(col("context").as("center"),
        col("center").as("context"), col("n")))
      .groupBy("center", "context").agg(sum(col("n")).as("n"))
  }

  def skipgramsOf(docs: DataFrame, window: Int = 2, topK: Int = 50): DataFrame =
    skipgramCountsOf(docs, window)
      .select(col("center"), col("context"), col("n").as("pairs"))
      .orderBy(col("pairs").desc, col("center"), col("context"))
      .limit(topK)

  def skipgrams(t: Tables): DataFrame = skipgramsOf(t.documents)

  // symmetric skip-gram pair CTE shared by the raw-count and PMI
  // oracles (tokensCte pattern: a fix to pair geometry hits both gates)
  private def skipgramCte(window: Int): String =
    s"""WITH raw AS (
       |  SELECT doc_id, unnest(arr) AS w, generate_subscripts(arr, 1) AS pos
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS arr FROM documents)
       |), toks AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS npos,
       |    lower(trim(w)) AS word
       |  FROM raw WHERE lower(trim(w)) <> ''
       |), fwd AS (
       |  SELECT a.word AS center, b.word AS context
       |  FROM toks a JOIN toks b
       |    ON b.doc_id = a.doc_id
       |   AND b.npos BETWEEN a.npos + 1 AND a.npos + $window
       |), sym AS (
       |  SELECT center, context FROM fwd
       |  UNION ALL
       |  SELECT context AS center, center AS context FROM fwd
       |)""".stripMargin

  def skipgramsSql(window: Int = 2, topK: Int = 50): String =
    s"""${skipgramCte(window)}
       |SELECT center, context, count(*) AS pairs
       |FROM sym GROUP BY 1, 2
       |ORDER BY pairs DESC, center, context
       |LIMIT $topK""".stripMargin

  /** Negative-sampling table — the third piece of the word2vec
    * training-data story next to [[skipgramsOf]] (positive pairs) and
    * PMI: the unigram^0.75 distribution (Mikolov et al. 2013) as
    * cumulative [cum_lo, cum_hi) ranges over [0,1], so a sampler draws
    * a uniform and binary-searches the range — no alias table, no
    * driver state. One frequency aggregate; the top-N slice is
    * TakeOrdered; the cumulative is a triangular join over the ≤N-row
    * slice (vocabCoverage policy: never a global window). The ^0.75
    * damping is the published trade — frequent words are downsampled
    * as negatives without vanishing.
    *
    * Only `cum_hi` is rounded; each word's `cum_lo` IS its
    * predecessor's rounded `cum_hi` (fetched by a second ≤N-row
    * triangular join, first word coalesces to 0.0). Rounding the two
    * bounds independently leaves ~1e-6 float gaps/overlaps at range
    * boundaries — a sampler binary-searching [cum_lo, cum_hi) could
    * land in a dead zone or double-cover a boundary; deriving lo from
    * the neighbor's rounded hi partitions [0,1] exactly by
    * construction.
    */
  def negSamplingOf(tokens: DataFrame, topN: Int = 100, power: Double = 0.75): DataFrame = {
    val top = tokens.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(topN)
    val total = top.agg(sum(pow(col("freq"), power)).as("tot"))
    val hi = top.as("a")
      .join(top.select(col("freq").as("f2"), col("word").as("w2")).as("b"),
        col("f2") > col("freq") || (col("f2") === col("freq") && col("w2") <= col("word")))
      .groupBy(col("word"), col("freq"))
      .agg(sum(pow(col("f2"), power)).as("cumw"))
      .crossJoin(broadcast(total))
      .select(col("word"), col("freq"),
        round(pow(col("freq"), power) / col("tot"), 6).as("p"),
        round(col("cumw") / col("tot"), 6).as("cum_hi"))
    // cum_hi is monotone in (freq desc, word) order, so the strict
    // predecessor's bound is max(cum_hi) over strictly-earlier rows
    hi.as("x")
      .join(hi.select(col("freq").as("pf"), col("word").as("pw"),
        col("cum_hi").as("ph")).as("y"),
        col("pf") > col("x.freq") ||
          (col("pf") === col("x.freq") && col("pw") < col("x.word")), "left")
      .groupBy(col("x.word").as("word"), col("x.freq").as("freq"),
        col("x.p").as("p"), col("x.cum_hi").as("cum_hi"))
      .agg(coalesce(max(col("ph")), lit(0.0)).as("cum_lo"))
      .select(col("word"), col("freq"), col("p"), col("cum_lo"), col("cum_hi"))
      .orderBy("cum_hi")
  }

  def negSampling(t: Tables): DataFrame = negSamplingOf(WordPipeline.tokens(t))

  def negSamplingSql(topN: Int = 100, power: Double = 0.75): String =
    s"""${WordPipeline.tokensCte}, freqs AS (
       |  SELECT word, count(*) AS freq FROM toks GROUP BY 1
       |  ORDER BY freq DESC, word LIMIT $topN
       |), tot AS (SELECT sum(pow(freq, $power)) AS tot FROM freqs),
       |hi AS (
       |  SELECT a.word, a.freq,
       |    round(pow(a.freq, $power) / t.tot, 6) AS p,
       |    round(sum(pow(b.freq, $power)) / t.tot, 6) AS cum_hi
       |  FROM freqs a
       |  JOIN freqs b ON b.freq > a.freq OR (b.freq = a.freq AND b.word <= a.word)
       |  CROSS JOIN tot t
       |  GROUP BY a.word, a.freq, t.tot
       |)
       |SELECT x.word, x.freq, x.p,
       |  coalesce(max(y.cum_hi), 0.0) AS cum_lo, x.cum_hi
       |FROM hi x
       |LEFT JOIN hi y ON y.freq > x.freq OR (y.freq = x.freq AND y.word < x.word)
       |GROUP BY x.word, x.freq, x.p, x.cum_hi
       |ORDER BY x.cum_hi""".stripMargin

  /** Windowed-co-occurrence PMI — the association score GloVe/word2vec
    * factorize: pmi(c,x) = ln( (n(c,x)/M) / ((m(c)/M)(m(x)/M)) ) over
    * the symmetric skip-gram pair multiset, support ≥ `minCount`.
    * Generalizes `bigram_pmi` from adjacency to a ±window. Everything
    * derives from ONE pair-count aggregate: marginals are a re-agg of
    * the (vocab²-sparse) count table — by symmetry the center marginal
    * serves both sides — M is a 1-row broadcast, and only counts
    * surviving minCount join the (vocab-sized, AQE-broadcast) marginal
    * table. Top-k by PMI is TakeOrdered with full tie-breaks.
    */
  def skipgramPmiOf(docs: DataFrame, window: Int = 2, minCount: Int = 5,
      topK: Int = 50): DataFrame = {
    val counts = skipgramCountsOf(docs, window)
    val marg = counts.groupBy(col("center").as("w")).agg(sum(col("n")).as("m"))
    val total = marg.agg(sum(col("m")).as("mm"))
    counts.filter(col("n") >= minCount)
      .join(marg.select(col("w").as("center"), col("m").as("mc")), "center")
      .join(marg.select(col("w").as("context"), col("m").as("mx")), "context")
      .crossJoin(broadcast(total))
      .select(col("center"), col("context"), col("n").as("pairs"),
        round(log((col("n").cast("double") * col("mm")) /
          (col("mc").cast("double") * col("mx"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("center"), col("context"))
      .limit(topK)
  }

  def skipgramPmi(t: Tables): DataFrame = skipgramPmiOf(t.documents)

  def skipgramPmiSql(window: Int = 2, minCount: Int = 5, topK: Int = 50): String =
    s"""${skipgramCte(window)}, counts AS (
       |  SELECT center, context, count(*) AS n FROM sym GROUP BY 1, 2
       |), marg AS (
       |  SELECT center AS w, sum(n) AS m FROM counts GROUP BY 1
       |), total AS (SELECT sum(m) AS mm FROM marg)
       |SELECT c.center, c.context, c.n AS pairs,
       |  round(ln((CAST(c.n AS DOUBLE) * t.mm) / (CAST(mc.m AS DOUBLE) * mx.m)), 6) AS pmi
       |FROM counts c
       |JOIN marg mc ON mc.w = c.center
       |JOIN marg mx ON mx.w = c.context
       |CROSS JOIN total t
       |WHERE c.n >= $minCount
       |ORDER BY pmi DESC, c.center, c.context
       |LIMIT $topK""".stripMargin

  // -------------------------------------------------------- TextRank

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    * over the word co-occurrence graph — the unsupervised "which
    * words does this corpus orbit" extractor. Pure composition of two
    * gated primitives: edges are [[skipgramsOf]]'s symmetric ±window
    * pair counts (stopworded, single-char-dropped, ≥`minPairs` to cut
    * noise edges), ranks are [[Graph.pageRankOf]]'s fixed damped
    * sweeps — so the corpus-proportional work is exactly the skipgram
    * pass, and each sweep shuffles vocabulary-sized rank rows. The
    * oracle unrolls the same sweeps as CTEs over the same pair CTE
    * both skipgram gates already share.
    */
  def textrankOf(docs: DataFrame, window: Int = 2, minPairs: Long = 2,
      iters: Int = 3, d: Double = 0.85, topK: Int = 25): DataFrame = {
    val stop = WordPipeline.Stopwords
    val counts = skipgramCountsOf(docs, window)
      .filter(!col("center").isin(stop: _*) && !col("context").isin(stop: _*)
        && length(col("center")) > 1 && length(col("context")) > 1
        && col("n") >= minPairs)
    // r15 (guide §5): the filtered pair-count table feeds the
    // out-weight aggregate, every damped sweep and the node universe —
    // without a cut the whole corpus-proportional skipgram pass rides
    // into each reference (a 5,272-line / 302-Exchange plan re-analyzed
    // per run). It is vocabulary-pair-sized (text-free after the
    // filter), so one lineage cut bounds both the work and the plan.
    val edges = counts.select(col("center").as("src"), col("context").as("dst"),
      col("n").cast("double").as("w"))
      .transform(Lineage.cut)
    // symmetric edges: every endpoint appears as a src — distinct src
    // IS the node universe; words with no surviving edge carry no rank
    val nodes = edges.select(col("src").as("node")).distinct()
    Graph.pageRankOf(edges, nodes, iters, d, topK)
  }

  def textrank(t: Tables): DataFrame = textrankOf(t.documents)

  def textrankSql(window: Int = 2, minPairs: Long = 2, iters: Int = 3,
      d: Double = 0.85, topK: Int = 25): String = {
    val stopList = WordPipeline.Stopwords.map(s => s"'$s'").mkString(", ")
    val base =
      s"""${skipgramCte(window)},
         |counts AS (
         |  SELECT center, context, count(*) AS n FROM sym
         |  WHERE center NOT IN ($stopList) AND context NOT IN ($stopList)
         |    AND length(center) > 1 AND length(context) > 1
         |  GROUP BY 1, 2 HAVING count(*) >= $minPairs
         |), edges AS (
         |  SELECT center AS src, context AS dst, CAST(n AS DOUBLE) AS w FROM counts
         |), outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nt)""".stripMargin
    val sweeps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank * e.w / o.wout) AS contrib
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src JOIN outw o ON o.src = e.src
         |  GROUP BY e.dst
         |), r$i AS (
         |  SELECT nd.node, ${1 - d} / nt.n + $d * coalesce(c.contrib, 0) AS rank
         |  FROM nodes nd CROSS JOIN nt LEFT JOIN c$i c ON c.node = nd.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$sweeps
       |SELECT node, round(rank, 6) AS rank FROM r$iters
       |ORDER BY round(rank, 6) DESC, node LIMIT $topK""".stripMargin
  }

  // ------------------------------------------- Dunning LLR collocations

  /** Collocation ranking by Dunning's log-likelihood ratio (G², the
    * "accurate methods for the statistics of surprise" test) — the
    * association score that, unlike `bigram_pmi`, does not overrank
    * rare pairs: G² = 2·Σ k·ln(k/e) over the 2×2 contingency of
    * (first word = w1) × (second word = w2) on the bigram multiset.
    * Everything derives from ONE bigram-count aggregate: both
    * positional marginals are re-aggs of the (vocab²-sparse) count
    * table, N a 1-row broadcast, and only ≥minCount survivors join
    * the (vocab-sized, AQE-broadcast) marginal tables — the
    * `q_skipgram_pmi` plan shape. Cell products k·N and r·c ride
    * DECIMAL/HUGEINT (N² would pass 2⁶³ around 3e9 bigrams); the four
    * k·ln(k·N/(r·c)) terms are doubles summed in the written cell
    * order on both engines, zero cells contribute exactly 0 by the
    * k>0 guard (lim k→0 k·ln k = 0).
    */
  def dunningLlrOf(docs: DataFrame, minCount: Int = 20, topK: Int = 50): DataFrame = {
    import graft.functions.ShinglesExpr
    val bi = docs
      .select(explode(ShinglesExpr.shingles(col("text"), 2)).as("bg"))
      .filter(col("bg") =!= "")
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val m1 = bi.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val m2 = bi.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val tot = bi.agg(sum(col("c12")).as("nn"))
    val d = (c: Column) => c.cast("decimal(20,0)")
    def term(k: Column, r: Column, c: Column): Column =
      when(k > 0,
        k.cast("double") * log((d(k) * d(col("nn"))).cast("double")
          / (d(r) * d(c)).cast("double")))
        .otherwise(lit(0.0))
    val k11 = col("c12")
    val k12 = col("c1") - col("c12")
    val k21 = col("c2") - col("c12")
    val k22 = col("nn") - col("c1") - col("c2") + col("c12")
    val r2 = col("nn") - col("c1")
    val c2c = col("nn") - col("c2")
    bi.filter(col("c12") >= minCount)
      .join(m1, "w1").join(m2, "w2")
      .crossJoin(broadcast(tot))
      .select(col("bg"), col("c12"),
        round(lit(2.0) * (term(k11, col("c1"), col("c2"))
          + term(k12, col("c1"), c2c)
          + term(k21, r2, col("c2"))
          + term(k22, r2, c2c)), 6).as("llr"))
      .orderBy(col("llr").desc, col("bg"))
      .limit(topK)
  }

  def dunningLlr(t: Tables): DataFrame = dunningLlrOf(t.documents)

  def dunningLlrSql(minCount: Int = 20, topK: Int = 50): String =
    s"""WITH bigrams AS (
       |  SELECT array_to_string(tk[i + 1 : i + 2], ' ') AS bg
       |  FROM (
       |    SELECT regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk) - 1)) AS r(i)
       |  WHERE array_to_string(tk[i + 1 : i + 2], ' ') <> ''
       |), bi AS (
       |  SELECT bg, count(*) AS c12,
       |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
       |  FROM bigrams GROUP BY bg
       |), m1 AS (SELECT w1, sum(c12) AS c1 FROM bi GROUP BY w1
       |), m2 AS (SELECT w2, sum(c12) AS c2 FROM bi GROUP BY w2
       |), tot AS (SELECT sum(c12) AS nn FROM bi
       |), cells AS (
       |  SELECT bg, c12, c1, c2, nn,
       |    c1 - c12 AS k12, c2 - c12 AS k21, nn - c1 - c2 + c12 AS k22,
       |    nn - c1 AS r2, nn - c2 AS c2c
       |  FROM bi JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
       |  WHERE c12 >= $minCount
       |)
       |SELECT bg, c12,
       |  round(2.0 * (
       |    (CASE WHEN c12 > 0 THEN CAST(c12 AS DOUBLE)
       |      * ln(CAST(CAST(c12 AS HUGEINT) * nn AS DOUBLE)
       |          / CAST(CAST(c1 AS HUGEINT) * c2 AS DOUBLE)) ELSE 0.0 END)
       |    + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE)
       |      * ln(CAST(CAST(k12 AS HUGEINT) * nn AS DOUBLE)
       |          / CAST(CAST(c1 AS HUGEINT) * c2c AS DOUBLE)) ELSE 0.0 END)
       |    + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE)
       |      * ln(CAST(CAST(k21 AS HUGEINT) * nn AS DOUBLE)
       |          / CAST(CAST(r2 AS HUGEINT) * c2 AS DOUBLE)) ELSE 0.0 END)
       |    + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE)
       |      * ln(CAST(CAST(k22 AS HUGEINT) * nn AS DOUBLE)
       |          / CAST(CAST(r2 AS HUGEINT) * c2c AS DOUBLE)) ELSE 0.0 END)), 6) AS llr
       |FROM cells
       |ORDER BY llr DESC, bg LIMIT $topK""".stripMargin

  // --------------------------------------------------- RAKE keywords

  /** RAKE keyword extraction (Rose et al. 2010, "Rapid Automatic
    * Keyword Extraction") — the stopword-delimited complement of
    * `q_textrank`'s graph ranking: candidate phrases are maximal runs
    * of non-stopword tokens (gaps-and-islands: island id = token pos −
    * row_number over the doc's non-stop tokens — every window
    * DOC-partitioned); each word scores deg/freq over its phrase
    * memberships (deg = Σ length of containing phrases — co-occurrence
    * degree including self); a phrase scores the SUM of its member
    * word scores. That sum is |phrase| ≤ maxLen doubles folded in
    * POSITION order on both engines (Spark `aggregate` over the
    * pos-sorted collect; DuckDB `list_reduce` over `list(... ORDER BY
    * pos)` — the `q_anova` sorted-fold discipline), because a groupBy
    * SUM of doubles has engine-dependent order. Repeated phrase
    * strings share one corpus-level score by construction, so the
    * dedup takes min (order-independent). Stop set = the union
    * stoplist over the corpus's four languages.
    */
  def rakeOf(docs: DataFrame, maxLen: Int = 4, minCount: Int = 2,
      topK: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = TextAnalysis.stopListAll
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "word")
      .filter(col("word") =!= "")
    val nonStop = toks
      .filter(!col("word").isin(stops: _*))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val members = nonStop
      .withColumn("phrase_id", col("pos") - row_number().over(w))
    val wp = Window.partitionBy(col("doc_id"), col("phrase_id"))
    val withLen = members.withColumn("plen", count(lit(1)).over(wp))
      .filter(col("plen") <= maxLen)
    val wordStats = withLen.groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    val scored = withLen.join(wordStats, "word")
      .withColumn("wscore", col("deg").cast("double") / col("freq").cast("double"))
    val phrases = scored.groupBy(col("doc_id"), col("phrase_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("word"), col("wscore"))))
        .as("ws"))
      .select(
        array_join(transform(col("ws"), s => s.getField("word")), " ").as("phrase"),
        aggregate(col("ws"), lit(0.0), (acc, s) => acc + s.getField("wscore"))
          .as("score"))
    phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n"), min(col("score")).as("score"))
      .filter(col("n") >= minCount)
      .select(col("phrase"), col("n"), (round(col("score"), 6) + lit(0.0)).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  def rake(t: Tables): DataFrame = rakeOf(t.documents)

  def rakeSql(maxLen: Int = 4, minCount: Int = 2, topK: Int = 40): String = {
    val stops = TextAnalysis.stopListAll.map("'" + _ + "'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, tk[i + 1] AS word
       |  FROM (
       |    SELECT doc_id,
       |      regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |    FROM documents),
       |    unnest(range(0, len(tk))) AS r(i)
       |  WHERE tk[i + 1] <> ''
       |), members AS (
       |  SELECT doc_id, pos, word,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
       |  FROM toks WHERE word NOT IN ($stops)
       |), with_len AS (
       |  SELECT doc_id, pos, word, phrase_id,
       |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
       |  FROM members
       |  QUALIFY plen <= $maxLen
       |), word_stats AS (
       |  SELECT word, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
       |  FROM with_len GROUP BY word
       |), scored AS (
       |  SELECT m.doc_id, m.phrase_id, m.pos, m.word,
       |    CAST(s.deg AS DOUBLE) / CAST(s.freq AS DOUBLE) AS wscore
       |  FROM with_len m JOIN word_stats s USING (word)
       |), phrases AS (
       |  SELECT string_agg(word, ' ' ORDER BY pos) AS phrase,
       |    list_reduce(list_prepend(0.0, list(wscore ORDER BY pos)),
       |      (a, b) -> a + b) AS score
       |  FROM scored GROUP BY doc_id, phrase_id
       |)
       |SELECT phrase, count(*) AS n, round(min(score), 6) + 0.0 AS score
       |FROM phrases GROUP BY phrase HAVING count(*) >= $minCount
       |ORDER BY score DESC, phrase LIMIT $topK""".stripMargin
  }

  // --------------------------------------------- tokenizer fertility

  /** Tokenizer fertility per source — the sizing metric quoted for
    * every tokenizer ("1.4 tokens per word, 3.8 chars per token"):
    * subword-proxy tokens (the `token_count` BPE-ish regex) over
    * whitespace words, and raw chars over subword tokens, rolled up
    * per source. High fertility flags scripts/domains the tokenizer
    * fragments (code, non-Latin text) — the signal used to rebalance
    * vocab training. One map-side aggregate of exact LONG counts;
    * both ratios are single unrounded divisions.
    */
  def tokenizerFertilityOf(docs: DataFrame): DataFrame = {
    val text = col("text")
    docs.select(col("source"), col("n_chars"),
        size(split(trim(text), "\\s+")).cast("long").as("ws"),
        size(regexp_extract_all(lower(text),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("n_chars")).as("chars"))
      .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        when(col("ws_tokens") > 0,
          col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
          .as("fertility"),
        when(col("bpe_tokens") > 0,
          col("chars").cast("double") / col("bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("source")
  }

  def tokenizerFertility(t: Tables): DataFrame = tokenizerFertilityOf(t.documents)

  val tokenizerFertilitySql: String =
    """WITH per_doc AS (
      |  SELECT source, n_chars,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS ws,
      |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe
      |  FROM documents
      |)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
      |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
      |  CASE WHEN sum(ws) > 0 THEN
      |    CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) END AS fertility,
      |  CASE WHEN sum(bpe) > 0 THEN
      |    CAST(sum(n_chars) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE) END AS chars_per_token
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- word burstiness

  /** Per-word burstiness over the document corpus — the
    * variance-to-mean ratio (VMR, index of dispersion) of a word's
    * per-document count INCLUDING the zero cells, computed without
    * materializing them: with D docs, Σx and Σx² over the containing
    * docs, population VMR = σ²/μ = Σx²/Σx − Σx/D exactly. VMR ≈ 1 is
    * Poisson scatter (function words); VMR ≫ 1 is bursty content
    * vocabulary — the Church–Gale signal that separates topical terms
    * from glue for vocab/keyword design. One (word, doc) aggregate
    * then one word-keyed moment aggregate; all sums exact LONGs until
    * the two final divisions (exact while Σx² < 2^63). The 1-row doc
    * count joins by broadcast.
    */
  def wordBurstinessOf(docs: DataFrame, minDf: Long = 10L,
                       topK: Int = 50): DataFrame = {
    val cells = docs
      .select(col("doc_id"),
        explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
          .as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val moments = cells.groupBy(col("word"))
      .agg(count(lit(1)).as("df"),
        sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sx2"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    moments.filter(col("df") >= minDf)
      .crossJoin(broadcast(total))
      .select(col("word"), col("df"), col("sx").as("total_count"),
        round(col("sx2").cast("double") / col("sx").cast("double")
          - col("sx").cast("double") / col("n_docs").cast("double"), 6).as("vmr"),
        round(col("sx").cast("double") / col("df").cast("double"), 6)
          .as("rate_in_docs"))
      .orderBy(col("total_count").desc, col("word"))
      .limit(topK)
  }

  def wordBurstiness(t: Tables): DataFrame = wordBurstinessOf(t.documents)

  def wordBurstinessSql(minDf: Long = 10L, topK: Int = 50): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
       |  FROM documents
       |), cells AS (
       |  SELECT word, doc_id, count(*) AS c FROM toks WHERE word <> ''
       |  GROUP BY word, doc_id
       |), moments AS (
       |  SELECT word, count(*) AS df,
       |    CAST(sum(c) AS BIGINT) AS sx,
       |    CAST(sum(c * c) AS BIGINT) AS sx2
       |  FROM cells GROUP BY word
       |), tot AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT word, df, sx AS total_count,
       |  round(CAST(sx2 AS DOUBLE) / CAST(sx AS DOUBLE)
       |    - CAST(sx AS DOUBLE) / (SELECT CAST(n_docs AS DOUBLE) FROM tot), 6) AS vmr,
       |  round(CAST(sx AS DOUBLE) / CAST(df AS DOUBLE), 6) AS rate_in_docs
       |FROM moments WHERE df >= $minDf
       |ORDER BY total_count DESC, word LIMIT $topK""".stripMargin

  // ----------------------------------------------------- n-gram novelty

  /** Per-document n-gram novelty profile (Lee et al. 2022's "how much
    * of each document is new" diagnostic): the share of a doc's
    * DISTINCT word k-grams whose corpus-wide first occurrence (min
    * doc_id over a stable ingest order) is this document. Low-novelty
    * docs are assembled from already-seen text (templates, mirrors) —
    * the doc-level ranking that complements [[Dedup.substringSpansOf]]'s
    * span surgery. Reuses [[Dedup.windowHashesOf]]; everything past
    * the scan shuffles 15-hex-digit window hashes only (first-seen
    * attribution = one min aggregate + one digest-keyed join), so the
    * profile costs the same two shuffles at any corpus size.
    */
  def ngramNoveltyOf(docs: DataFrame, k: Int = 8): DataFrame = {
    val wins = Dedup.windowHashesOf(docs, k)
      .select(col("doc_id"), col("win_hash")).distinct()
    val first = wins.groupBy(col("win_hash"))
      .agg(min(col("doc_id")).as("first_doc"))
    val perDoc = wins.join(first, Seq("win_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n"), lit(0L)).as("n_ngrams"),
        coalesce(col("novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("novel"), lit(0L)).cast("double")
          / greatest(coalesce(col("n"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("novel_share"))
      .orderBy("doc_id")
  }

  def ngramNovelty(t: Tables): DataFrame = ngramNoveltyOf(t.documents)

  def ngramNoveltySql(k: Int = 8): String =
    s"""WITH toksv AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
       |  FROM documents
       |), wins AS (
       |  SELECT DISTINCT doc_id,
       |    ('0x' || substr(md5(array_to_string(w[i+1 : i+$k], ' ')), 1, 15))::BIGINT AS win_hash
       |  FROM toksv, unnest(range(0, len(w) - $k + 1)) r(i)
       |  WHERE len(w) >= $k
       |), firsts AS (
       |  SELECT win_hash, min(doc_id) AS first_doc FROM wins GROUP BY win_hash
       |), pd AS (
       |  SELECT doc_id, count(*) AS n,
       |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel
       |  FROM wins JOIN firsts USING (win_hash) GROUP BY doc_id
       |)
       |SELECT d.doc_id, d.source,
       |  coalesce(pd.n, 0) AS n_ngrams,
       |  coalesce(pd.novel, 0) AS n_novel,
       |  round(CAST(coalesce(pd.novel, 0) AS DOUBLE)
       |    / greatest(coalesce(pd.n, 0), 1), 6) AS novel_share
       |FROM documents d LEFT JOIN pd USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
}
