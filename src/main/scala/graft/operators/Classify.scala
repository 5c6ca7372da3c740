package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Distributed multinomial Naive Bayes over document tokens — the
  * classic scalable text classifier (language ID here, quality/domain
  * labels in production): training is PURE aggregation (one
  * (class, word) count table + per-class totals), scoring is one
  * broadcast-model join + a per-document log-sum — no gradients, no
  * driver state, and every count is exact, so the whole pipeline has
  * a DuckDB twin. Train/test split follows the repo's even/odd
  * convention (`dedup_incremental`): even doc_ids train, odd score.
  */
object Classify {

  /** Tokens with their class label — [[WordPipeline.tokensOf]]'s
    * normalization (whitespace split, lower(trim), drop empties) with
    * the label carried through.
    */
  // NO Par.spread here (r14 A/B at sf0.1: every NB query read 0.3-0.5 s
  // WORSE with it — the branches aggregate to vocab-sized tables right
  // at the scan, so the spread exchange only added a stage)
  private def labeledTokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), "\\s+")).as("w"))
      .select(col("doc_id"), col("lang"), lower(trim(col("w"))).as("word"))
      .filter(col("word") =!= "")

  private val toksCte =
    """toks AS (
      |  SELECT doc_id, lang, lower(trim(w)) AS word
      |  FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(text, '\s+')) AS w
      |        FROM documents)
      |  WHERE lower(trim(w)) <> ''
      |)""".stripMargin

  /** The trained model: one row per OBSERVED (class, word) pair with
    * its count and Laplace-smoothed log-likelihood
    * ln((n_wc+1)/(n_c+V)), V = train vocabulary size. All inputs to
    * the ln are exact LONG counts, so both engines take the log of
    * the identical double. Model size is Σ_c |vocab_c| — bounded by
    * classes × vocabulary, never by corpus rows; the aggregate
    * combines map-side.
    */
  def nbTrainOf(docs: DataFrame): DataFrame = {
    val toks = labeledTokens(docs.filter(col("doc_id") % 2 === 0))
    val wc = toks.groupBy("lang", "word").agg(count(lit(1)).as("n_wc"))
    val classTotals = wc.groupBy("lang").agg(sum(col("n_wc")).as("n_c"))
    val vocab = wc.select("word").distinct()
      .agg(count(lit(1)).as("v"))
    wc.join(classTotals, "lang").crossJoin(broadcast(vocab))
      .select(col("lang"), col("word"), col("n_wc"),
        round(log((col("n_wc") + 1).cast("double") / (col("n_c") + col("v"))), 6)
          .as("log_prob"))
      .orderBy("lang", "word")
  }

  def nbTrain(t: Tables): DataFrame = nbTrainOf(t.documents)

  val nbTrainSql: String =
    s"""WITH $toksCte, train AS (
       |  SELECT * FROM toks WHERE doc_id % 2 = 0
       |), wc AS (
       |  SELECT lang, word, count(*) AS n_wc FROM train GROUP BY 1, 2
       |), ct AS (
       |  SELECT lang, CAST(sum(n_wc) AS BIGINT) AS n_c FROM wc GROUP BY 1
       |), vocab AS (
       |  SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM wc
       |)
       |SELECT wc.lang, wc.word, wc.n_wc,
       |  round(ln(CAST(wc.n_wc + 1 AS DOUBLE) / (ct.n_c + vocab.v)), 6) AS log_prob
       |FROM wc JOIN ct ON ct.lang = wc.lang CROSS JOIN vocab
       |ORDER BY wc.lang, wc.word""".stripMargin

  /** Score the held-out (odd doc_id) documents against the trained
    * model: per (doc, class), ln-prior (class doc share of the train
    * split) + Σ_w n_dw · lnP(w|c), unseen words taking the smoothed
    * floor ln(1/(n_c+V)); prediction = argmax with (score, lang)
    * tie-break on the 6dp-rounded score so the rank is engine-stable.
    * Per-doc words collapse FIRST (n_dw), so the model join and the
    * class fanout see distinct (doc, word) pairs, not raw tokens; the
    * model side is broadcast (classes × vocab), and the argmax is a
    * per-doc window on a |docs|×|classes| table.
    */
  def nbScoreOf(docs: DataFrame): DataFrame = {
    val scored = nbScoredAllOf(docs)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("actual"), col("cls").as("predicted"),
        col("score"), (col("cls") === col("lang")).as("is_correct"))
      .orderBy("doc_id")
  }

  /** The full |held-out docs| × |classes| scored table [[nbScoreOf]]
    * ranks — exposed so downstream evaluation (calibration, margins)
    * reuses the one scoring plan instead of re-deriving it.
    */
  def nbScoredAllOf(docs: DataFrame): DataFrame = {
    val train = docs.filter(col("doc_id") % 2 === 0)
    val toks = labeledTokens(train)
    val wc = toks.groupBy("lang", "word").agg(count(lit(1)).as("n_wc"))
    val vocab = wc.select("word").distinct().agg(count(lit(1)).as("v"))
    val classStats = wc.groupBy("lang").agg(sum(col("n_wc")).as("n_c"))
      .crossJoin(broadcast(vocab))
      .join(broadcast(
        train.select("doc_id", "lang").distinct().groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
          .crossJoin(train.select("doc_id").distinct()
            .agg(count(lit(1)).as("n_docs_tot")))), "lang")
      .select(col("lang").as("cls"), col("n_c"), col("v"),
        log(col("n_docs").cast("double") / col("n_docs_tot")).as("prior"))
    val model = wc
      .select(col("lang").as("cls"), col("word"),
        log((col("n_wc") + 1).cast("double")).as("log_num"))
    val docWords = labeledTokens(docs.filter(col("doc_id") % 2 === 1))
      .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("n_dw"))
    // ln((n+1)/(n_c+V)) = ln(n+1) − ln(n_c+V): the denominator is
    // per-class constant, so unseen words (ln 1 = 0 numerator) and
    // seen words share one Σn_dw·ln(den) correction — the model join
    // can stay a LEFT join with a 0 default instead of a class-crossed
    // dense vocab.
    docWords.crossJoin(broadcast(classStats))
      .join(broadcast(model), Seq("cls", "word"), "left")
      .groupBy(col("doc_id"), col("lang"), col("cls"), col("prior"),
        col("n_c"), col("v"))
      .agg(sum(col("n_dw") * coalesce(col("log_num"), lit(0.0))).as("sum_num"),
        sum(col("n_dw")).as("n_tokens"))
      .select(col("doc_id"), col("lang"), col("cls"),
        round(col("prior") + col("sum_num")
          - col("n_tokens") * log((col("n_c") + col("v")).cast("double")), 6)
          .as("score"))
  }

  def nbScore(t: Tables): DataFrame = nbScoreOf(t.documents)

  /** Confusion matrix + per-actual-class recall over the held-out
    * predictions — the evaluation readout a model gate consumes. One
    * |classes|² aggregate over [[nbScoreOf]]'s per-doc rows; recall
    * divides exact LONGs.
    */
  def nbConfusionOf(docs: DataFrame): DataFrame = {
    // r15 round 2 (guide §2.4): the per-actual marginal is the sum of
    // the confusion matrix's own pair counts, so derive it with a
    // window over the ≤|classes|²-row aggregate instead of a second
    // groupBy over `preds` + join — the old shape instantiated the
    // entire NB scoring pipeline (tokenize scans, model join, argmax
    // window) TWICE, once per reference.
    val conf = nbScoreOf(docs)
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val wActual = Window.partitionBy(col("actual"))
    conf
      .withColumn("n_actual", sum(col("n")).over(wActual))
      .select(col("actual"), col("predicted"), col("n"),
        round(col("n").cast("double") / col("n_actual"), 6).as("share_of_actual"))
      .orderBy("actual", "predicted")
  }

  def nbConfusion(t: Tables): DataFrame = nbConfusionOf(t.documents)

  /** Margin-binned reliability readout — "is a confident prediction
    * actually more often right": per held-out doc the decision margin
    * (top-1 minus top-2 score, a difference of two 6dp-rounded
    * doubles, so both engines bin the identical value), bucketed at
    * `binWidth` log-units (last bin open-ended), then per-bin count,
    * accuracy (exact LONGs divided), and min/max margin (both
    * order-independent aggregates — deliberately no margin MEAN,
    * whose cross-engine summation order the repo only pins with
    * sorted-fold machinery this readout doesn't need). The pivot is
    * one per-doc window over the |docs|×|classes| scored table the
    * prediction query already builds.
    */
  def nbCalibrationOf(docs: DataFrame, binWidth: Double = 0.5,
      maxBin: Int = 7): DataFrame = {
    val scored = nbScoredAllOf(docs)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    val top2 = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(when(col("rn") === 1, col("score"))).as("s1"),
        max(when(col("rn") === 2, col("score"))).as("s2"),
        max(when(col("rn") === 1, col("cls"))).as("pred"))
      .withColumn("margin", col("s1") - col("s2"))
      .withColumn("bin", least(floor(col("margin") / binWidth), lit(maxBin)).cast("int"))
    top2.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum((col("pred") === col("lang")).cast("long")).as("n_correct"),
        min(col("margin")).as("margin_min"),
        max(col("margin")).as("margin_max"))
      .select(col("bin"), col("n"), col("n_correct"),
        (col("n_correct").cast("double") / col("n").cast("double")).as("accuracy"),
        col("margin_min"), col("margin_max"))
      .orderBy("bin")
  }

  def nbCalibration(t: Tables): DataFrame = nbCalibrationOf(t.documents)

  val nbScoreSql: String =
    s"""WITH $toksCte, train AS (
       |  SELECT * FROM toks WHERE doc_id % 2 = 0
       |), wc AS (
       |  SELECT lang, word, count(*) AS n_wc FROM train GROUP BY 1, 2
       |), vocab AS (
       |  SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM wc
       |), cls AS (
       |  SELECT w.lang AS cls, CAST(sum(w.n_wc) AS BIGINT) AS n_c, vocab.v,
       |    ln(CAST(d.n_docs AS DOUBLE) / d.n_docs_tot) AS prior
       |  FROM wc w CROSS JOIN vocab
       |  JOIN (
       |    SELECT lang, count(DISTINCT doc_id) AS n_docs,
       |      (SELECT count(DISTINCT doc_id) FROM documents WHERE doc_id % 2 = 0) AS n_docs_tot
       |    FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
       |  ) d ON d.lang = w.lang
       |  GROUP BY 1, 3, 4
       |), model AS (
       |  SELECT lang AS cls, word, ln(CAST(n_wc + 1 AS DOUBLE)) AS log_num FROM wc
       |), doc_words AS (
       |  SELECT doc_id, lang, word, count(*) AS n_dw
       |  FROM toks WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3
       |), scored AS (
       |  SELECT dw.doc_id, dw.lang, c.cls,
       |    round(c.prior + sum(dw.n_dw * coalesce(m.log_num, 0.0))
       |      - sum(dw.n_dw) * ln(CAST(c.n_c + c.v AS DOUBLE)), 6) AS score
       |  FROM doc_words dw CROSS JOIN cls c
       |  LEFT JOIN model m ON m.cls = c.cls AND m.word = dw.word
       |  GROUP BY 1, 2, 3, c.prior, c.n_c, c.v
       |)
       |SELECT doc_id, lang AS actual, cls AS predicted, score,
       |  cls = lang AS is_correct
       |FROM (
       |  SELECT doc_id, lang, cls, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
       |  FROM scored)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  def nbCalibrationSql(binWidth: Double = 0.5, maxBin: Int = 7): String = {
    // reuse nbScoreSql's WITH chain up to the scored CTE
    val withChain = nbScoreSql.substring(0, nbScoreSql.indexOf("\nSELECT doc_id"))
    s"""$withChain
       |, top2 AS (
       |  SELECT doc_id, lang,
       |    max(CASE WHEN rn = 1 THEN score END) AS s1,
       |    max(CASE WHEN rn = 2 THEN score END) AS s2,
       |    max(CASE WHEN rn = 1 THEN cls END) AS pred
       |  FROM (
       |    SELECT doc_id, lang, cls, score,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
       |    FROM scored)
       |  WHERE rn <= 2 GROUP BY doc_id, lang
       |), binned AS (
       |  SELECT doc_id, lang, pred, s1 - s2 AS margin,
       |    CAST(least(floor((s1 - s2) / $binWidth), $maxBin) AS INT) AS bin
       |  FROM top2
       |)
       |SELECT bin, count(*) AS n,
       |  CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS accuracy,
       |  min(margin) AS margin_min, max(margin) AS margin_max
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
  }

  val nbConfusionSql: String = {
    val scoredBody = nbScoreSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH preds AS (
       |$scoredBody
       |), per_actual AS (
       |  SELECT actual, count(*) AS n_actual FROM preds GROUP BY 1
       |)
       |SELECT p.actual, p.predicted, count(*) AS n,
       |  round(CAST(count(*) AS DOUBLE) / any_value(a.n_actual), 6) AS share_of_actual
       |FROM preds p JOIN per_actual a ON a.actual = p.actual
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------- classifier report

  /** Per-class precision / recall / F1 plus the chance-corrected
    * overall row — accuracy and Cohen's kappa
    * (κ = (p_o − p_e)/(1 − p_e), Cohen 1960) — the full evaluation
    * card a model gate publishes, where [[nbConfusionOf]] stops at
    * recall. Class rows carry (n_actual, n_predicted, tp, prec,
    * recall, f1) with NULL accuracy/kappa; the trailing `~overall`
    * row (`~` > `z` in the binary collation both engines sort with,
    * so it lands last) carries accuracy/kappa with NULL per-class
    * ratios. p_e's marginal products are exact DECIMAL/HUGEINT
    * (n_actual·n_predicted squares the corpus row count — past Long
    * at the 100 TB doc counts the card claims to survive), cast to
    * double once. Shape: the held-out predictions collapse in one
    * \|classes\|² aggregate; marginals, the F1 arithmetic, and the
    * 1-row overall all ride tables bounded by \|classes\|.
    */
  def classifierReportOf(docs: DataFrame): DataFrame = {
    // r15 round 2 (guide §5, the rocchio pattern): `conf` is a
    // |classes|²-row table, but its three direct references (ma, mp,
    // diag) — and `classes`' two (classRows, tot) — each re-instantiate
    // the ENTIRE Naive Bayes scoring pipeline below it (two tokenize
    // scans, the model join, the per-doc argmax window): the r14 plan
    // dump shows 5 parquet scan subtrees / 236 Exchanges. Aggregates
    // are not exchanges, so nothing above conf's groupBy is reused.
    // The cut truncates all of them to one ≤|classes|²-row
    // leaf; the scoring pipeline runs exactly once.
    val conf = nbScoreOf(docs)
      .groupBy(col("actual"), col("predicted")).agg(count(lit(1)).as("n"))
      .transform(Lineage.cut)
    val ma = conf.groupBy(col("actual")).agg(sum(col("n")).as("n_actual"))
      .withColumnRenamed("actual", "cls")
    val mp = conf.groupBy(col("predicted")).agg(sum(col("n")).as("n_predicted"))
      .withColumnRenamed("predicted", "cls")
    val diag = conf.filter(col("actual") === col("predicted"))
      .select(col("actual").as("cls"), col("n").as("tp"))
    val classes = ma.join(mp, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    def dec(c: Column) = c.cast("decimal(18,0)")
    val tot = classes.agg(sum(col("n_actual")).as("nn"),
      sum(col("tp")).as("diag"),
      sum(dec(col("n_actual")) * dec(col("n_predicted"))).cast("double")
        .as("sum_prod"))
    val pr = col("tp").cast("double") / col("n_predicted").cast("double")
    val rc = col("tp").cast("double") / col("n_actual").cast("double")
    val classRows = classes.select(col("cls"), col("n_actual"),
      col("n_predicted"), col("tp"),
      when(col("n_predicted") > 0, round(pr, 6)).as("prec"),
      when(col("n_actual") > 0, round(rc, 6)).as("recall"),
      when(col("n_predicted") > 0 && col("n_actual") > 0 && pr + rc > 0.0,
        round(lit(2.0) * pr * rc / (pr + rc), 6)).as("f1"),
      lit(null).cast("double").as("accuracy"),
      lit(null).cast("double").as("kappa"))
    val nnD = col("nn").cast("double")
    val po = col("diag").cast("double") / nnD
    val pe = col("sum_prod") / (nnD * nnD)
    val overall = tot.select(lit("~overall").as("cls"),
      col("nn").as("n_actual"), col("nn").as("n_predicted"),
      col("diag").as("tp"),
      lit(null).cast("double").as("prec"),
      lit(null).cast("double").as("recall"),
      lit(null).cast("double").as("f1"),
      round(po, 6).as("accuracy"),
      when(pe =!= 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
    classRows.unionAll(overall).orderBy("cls")
  }

  def classifierReport(t: Tables): DataFrame = classifierReportOf(t.documents)

  val classifierReportSql: String = {
    val scoredBody = nbScoreSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH preds AS (
       |$scoredBody
       |), conf AS (
       |  SELECT actual, predicted, count(*) AS n FROM preds GROUP BY 1, 2
       |), ma AS (
       |  SELECT actual AS cls, CAST(sum(n) AS BIGINT) AS n_actual FROM conf GROUP BY 1
       |), mp AS (
       |  SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS n_predicted
       |  FROM conf GROUP BY 1
       |), diag AS (
       |  SELECT actual AS cls, CAST(n AS BIGINT) AS tp FROM conf
       |  WHERE actual = predicted
       |), cls AS (
       |  SELECT coalesce(ma.cls, mp.cls) AS cls,
       |    coalesce(ma.n_actual, 0) AS n_actual,
       |    coalesce(mp.n_predicted, 0) AS n_predicted
       |  FROM ma FULL JOIN mp ON mp.cls = ma.cls
       |), rows_ AS (
       |  SELECT c.cls, c.n_actual, c.n_predicted, coalesce(d.tp, 0) AS tp
       |  FROM cls c LEFT JOIN diag d ON d.cls = c.cls
       |), tot AS (
       |  SELECT CAST(sum(n_actual) AS BIGINT) AS nn,
       |    CAST(sum(tp) AS BIGINT) AS diag,
       |    CAST(sum(CAST(n_actual AS HUGEINT) * n_predicted) AS DOUBLE) AS sum_prod
       |  FROM rows_
       |)
       |SELECT * FROM (
       |  SELECT cls, n_actual, n_predicted, tp,
       |    CASE WHEN n_predicted > 0
       |      THEN round(CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE), 6)
       |    END AS prec,
       |    CASE WHEN n_actual > 0
       |      THEN round(CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE), 6)
       |    END AS recall,
       |    CASE WHEN n_predicted > 0 AND n_actual > 0
       |        AND CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE)
       |          + CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE) > 0.0
       |      THEN round(2.0 * (CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE))
       |          * (CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE))
       |        / (CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE)
       |          + CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE)), 6)
       |    END AS f1,
       |    CAST(NULL AS DOUBLE) AS accuracy,
       |    CAST(NULL AS DOUBLE) AS kappa
       |  FROM rows_
       |  UNION ALL
       |  SELECT '~overall' AS cls, nn AS n_actual, nn AS n_predicted,
       |    diag AS tp,
       |    CAST(NULL AS DOUBLE) AS prec, CAST(NULL AS DOUBLE) AS recall,
       |    CAST(NULL AS DOUBLE) AS f1,
       |    round(CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS accuracy,
       |    CASE WHEN sum_prod / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) <> 1.0
       |      THEN round((CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE)
       |          - sum_prod / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
       |        / (1.0 - sum_prod / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))), 6)
       |    END AS kappa
       |  FROM tot
       |) ORDER BY cls""".stripMargin
  }
}
