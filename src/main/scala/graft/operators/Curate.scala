package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** End-to-end corpus curation — the composed training-data pipeline
  * the individual operators exist to serve, as ONE declarative plan:
  *
  *   annotate (lang, fingerprint)            — one scan, all columns
  *   → exact/normalized dedup                — keep min doc_id per fp
  *   → near-dup removal                      — MinHash-LSH losers out
  *   → substring span cut                    — duplicated spans removed
  *   → quality gate on the CUT text          — blended score ≥ τ
  *
  * The span-cut stage is the Lee et al. 2022 recipe applied where it
  * belongs: [[Dedup.substringSpansOf]] finds maximal duplicated
  * k-word spans AMONG THE SURVIVORS of doc-level dedup (an exact or
  * near dup's spans are moot — the doc is already gone), and the
  * duplicated tokens are cut before quality is scored, so boilerplate
  * neither trains nor pads a doc's quality. A doc whose every token
  * is duplicated is dropped outright. All shuffles stay digest-,
  * pair- or (doc_id, start, 8-byte hash)-sized — documents never
  * shuffle; the span table joins back per doc_id as a handful of
  * (start, end) structs and the cut itself is a map-side higher-order
  * filter. A production run at 100 TB would persist the annotate
  * output and feed the branches from it; the composition here keeps
  * each stage exactly the gated operator it reuses. Hash-gated
  * against a DuckDB oracle built from the same stage SQLs.
  */
object Curate {

  def curate(t: Tables, minQuality: Double = 0.5, spanK: Int = 10): DataFrame =
    curateCore(
      annotatedOf(t.documents),
      Dedup.minhashLshPairs(t),
      Dedup.windowHashesOf(t.documents, spanK),
      tokStatsOf(t.documents),
      minQuality, spanK)

  /** The (doc_id, fp, lang_pred) annotate projection — stage 1 of the
    * pipeline and the first table of the persisted artifact.
    */
  def annotatedOf(docs: DataFrame): DataFrame = docs.select(
    col("doc_id"),
    md5(TextAnalysis.normalizedText(col("text"))).as("fp"),
    TextAnalysis.langIdCol(col("text")).as("lang_pred"))

  /** Per-token numeric features (len, punct, stop flag) at the scan —
    * the text-free table the span cut and quality gate consume.
    */
  def tokStatsOf(docs: DataFrame): DataFrame = {
    val stopArr = array(TextAnalysis.stopList("en").map(lit): _*)
    // per-token feature extraction is the scan stage's CPU; Par.spread
    Par.spread(docs, "doc_id")
      .select(col("doc_id"),
        posexplode(split(TextAnalysis.normalizedText(col("text")), " ")).as(Seq("idx", "tok")))
      .select(col("doc_id"), col("idx"),
        length(col("tok")).as("len"),
        length(regexp_replace(col("tok"), "[^.,;:!?]", "")).as("punct"),
        array_contains(stopArr, col("tok")).cast("long").as("is_stop"))
  }

  /** The whole pipeline downstream of the text scans, over the four
    * text-free inputs — shared verbatim by the composed gated form
    * ([[curate]]) and the persisted-artifact production form
    * ([[curateFromArtifact]]), so the two can only diverge if the
    * artifact itself does.
    */
  private def curateCore(annotated0: DataFrame, lshPairs: DataFrame,
      wins: DataFrame, tokStats: DataFrame,
      minQuality: Double, spanK: Int): DataFrame = {
    // r15 (guide §5, the kcore pattern): the survivor id set feeds
    // three consumers (the wins semi-join, the token-row restriction
    // and — via the old keep/lose filter it replaces — the final
    // output), and deriving it lazily re-instantiated the keeps
    // aggregate and the whole LSH band pipeline per reference. It is
    // doc-count rows of ids (never text), so ONE lineage cut
    // materializes it once and every dedup branch then joins a bounded
    // in-memory leaf. Checkpointing `annotated` as well was measured
    // WORSE (3.33 vs 2.74 s solo at sf0.1): the eager annotate job
    // serializes a scan AQE otherwise overlaps with the LSH stages
    // inside the survivor job. A/B solo bench at sf0.1: 5.42 → 2.74 s.
    val annotated = annotated0
    // canonical representative per normalized fingerprint
    val keeps = annotated.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // near-dup losers: the larger id of every LSH candidate pair
    val losers = lshPairs.select(col("doc_b").as("doc_id")).distinct()
    val survivorIds = annotated.select("doc_id")
      .join(keeps, Seq("doc_id"), "left_semi")
      .join(losers, Seq("doc_id"), "left_anti")
      .transform(Lineage.cut)
    // maximal duplicated spans among SURVIVORS: the window-hash table
    // drops text at the scan, so restricting it to survivors is an
    // id-on-16-byte-rows semi join — never a text join
    val spans = Dedup.substringSpansFromWins(
        wins.join(survivorIds, Seq("doc_id"), "left_semi"), spanK)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    // Clean-text quality WITHOUT reconstructing (or shuffling) any
    // string: each token reduces to numeric features at the scan
    // (len, punct count, stopword flag), the span cut is an index
    // filter against the per-doc span list, and quality's inputs are
    // per-doc sums — n_chars of the single-space-joined clean text is
    // sum(len) + n_tokens - 1. Only (doc_id, idx, 3 ints) rows reach
    // the shuffle, and the doc_id exchange is shared by the span join
    // and the final aggregate.
    val cut = coalesce(
      exists(col("spans"), s =>
        col("idx") >= s.getField("span_start") && col("idx") <= s.getField("span_end")),
      lit(false))
    // survivor restriction pushed BELOW the per-token aggregate (the
    // optimizer cannot push a join through a groupBy): non-survivor
    // docs were dropped after aggregation anyway, so filtering the
    // token rows first — a broadcast semi-join against the checkpointed
    // id set — aggregates strictly fewer rows with identical output
    val cleanStats = tokStats
      .join(survivorIds, Seq("doc_id"), "left_semi")
      .join(spans, Seq("doc_id"), "left")
      .filter(!cut)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("len")).as("sum_len"),
        sum(col("punct")).as("punct"), sum(col("is_stop")).as("stops"))
      .withColumn("n_chars", col("sum_len") + col("n_tokens") - 1)
    // a fully-duplicated doc has no surviving tokens → no group → gone
    val quality = round(
      least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.5 +
        (lit(1.0) - col("punct").cast("double") / col("n_chars")) * 0.25 +
        least(col("stops").cast("double") / col("n_tokens") * 5, lit(1.0)) * 0.25, 6)
    // the old final keep/lose filter IS membership in the survivor set
    // (doc ∈ keeps ∧ doc ∉ losers ≡ doc ∈ survivorIds — every doc_id is
    // in annotated), and cleanStats is survivor-restricted above, so
    // neither the keeps aggregate nor the LSH loser pipeline runs twice
    cleanStats
      .join(annotated.select("doc_id", "lang_pred"), Seq("doc_id"))
      .withColumn("quality", quality)
      .filter(col("quality") >= minQuality)
      .select("doc_id", "lang_pred", "quality")
      .orderBy("doc_id")
  }

  /** Persist the annotate artifact — the production entry point's
    * write half: four TEXT-FREE tables (`annotated/` fp+lang, `sigs/`
    * wide MinHash signatures, `wins/` k-word window hashes,
    * `tokstats/` per-token numeric features), one corpus scan each
    * (four scans total — each is exactly the scan+project the
    * composed form pays per stage anyway; a single-scan multi-write
    * would need the raw text cached, which is the one thing that
    * cannot be cached at 100 TB). Every downstream curate stage reads
    * only these, so a daily re-curate (new threshold) never re-scans
    * or re-tokenizes the corpus text — that cost is paid once here.
    * The artifact is incrementally maintainable: each table is keyed
    * by doc_id, so a new ingest batch appends its own rows without
    * touching existing ones. Parameters that shape the tables
    * (`spanK`, minhash `k`/`n`) are stamped into `_meta` and
    * validated by [[curateFromArtifact]] — a spanK mismatch computes
    * span ends against the wrong window width, silently wrong
    * survivors, not an error.
    */
  def writeAnnotateArtifact(docs: DataFrame, dir: String, spanK: Int = 10,
      k: Int = 16, n: Int = 3): Unit = {
    annotatedOf(docs).write.mode("overwrite").parquet(s"$dir/annotated")
    Dedup.minhashWideOf(docs, k, n).write.mode("overwrite").parquet(s"$dir/sigs")
    Dedup.windowHashesOf(docs, spanK).write.mode("overwrite").parquet(s"$dir/wins")
    tokStatsOf(docs).write.mode("overwrite").parquet(s"$dir/tokstats")
    ArtifactMeta.write(docs.sparkSession, dir,
      Map("spanK" -> spanK, "k" -> k, "n" -> n))
  }

  /** Run the curate pipeline FROM a persisted artifact — the
    * production form (PERF_r9's documented shape). Bit-identical to
    * [[curate]] by construction: both call the same `curateCore` over
    * the same four inputs, the only difference being whether those
    * inputs come off the live text scan or the parquet artifact
    * (spec-pinned). LSH pairs are re-derived from the persisted
    * signatures via [[Dedup.minhashLshPairsFromSig]] — the candidate
    * join is corpus-pair-sized work that SHOULD rerun under a new
    * threshold; the expensive text-derived tables are what the
    * artifact amortizes.
    */
  def curateFromArtifact(spark: org.apache.spark.sql.SparkSession, dir: String,
      minQuality: Double = 0.5, spanK: Int = 10, k: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    // minQuality and rowsPerBand may legitimately vary per re-curate
    // (they act downstream of the artifact); spanK and k are BAKED
    // into wins/sigs — a mismatch is silent corruption, so it throws
    ArtifactMeta.validate(spark, dir, "annotate artifact",
      Map("spanK" -> spanK, "k" -> k))
    curateCore(
      spark.read.parquet(s"$dir/annotated"),
      Dedup.minhashLshPairsFromSig(spark.read.parquet(s"$dir/sigs"), k, rowsPerBand),
      spark.read.parquet(s"$dir/wins"),
      spark.read.parquet(s"$dir/tokstats"),
      minQuality, spanK)
  }

  /** Deterministic train/val/test assignment (80/10/10) keyed on
    * md5(doc_id) — reproducible across runs, engines and cluster
    * sizes, with no RNG state to coordinate. The summary (split ×
    * language × count) is the stratification report a pipeline emits
    * to prove the split didn't skew a language; row-level assignment
    * is the same expression without the final aggregate.
    */
  def trainSplit(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), TextAnalysis.langIdCol(col("text")).as("lang_pred"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("split", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split", "lang_pred")

  def trainSplitSql(): String =
    s"""WITH lang AS (SELECT doc_id, lang_pred FROM (${TextAnalysis.langIdSql})),
       |b AS (
       |  SELECT doc_id, lang_pred,
       |    ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 AS bucket
       |  FROM lang
       |)
       |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  lang_pred, count(*) AS n_docs
       |FROM b GROUP BY 1, 2 ORDER BY split, lang_pred""".stripMargin

  /** Temperature-weighted domain mixing: per-source sampling rates
    * r_g = min(1, T·w_g/n_g) with w_g ∝ n_g^α (α<1 upweights small
    * sources — the multilingual/domain-balance move every training mix
    * uses), T = targetFrac·N docs overall. The per-doc keep decision
    * is a deterministic md5 fraction against the group's rate, so the
    * sample is reproducible across runs, engines and cluster sizes and
    * needs no RNG coordination. At 100 TB the rate table is a
    * per-source handful of rows (broadcast); the corpus is touched by
    * exactly one scan + one map-side filter — nothing shuffles.
    * Rates are rounded to 9dp so the last-ulp accumulation difference
    * in Σw_g between engines cannot flip a keep decision.
    */
  def domainMix(t: Tables, alpha: Double = 0.5, targetFrac: Double = 0.3): DataFrame = {
    val counts = t.documents.groupBy("source")
      .agg(count(lit(1)).as("n_g"))
      .withColumn("w_g", pow(col("n_g").cast("double"), alpha))
    val z = counts.agg(sum(col("w_g")).as("z"), sum(col("n_g")).as("n_total"))
    val rates = counts.crossJoin(broadcast(z))
      .select(col("source"),
        round(least(lit(1.0),
          lit(targetFrac) * col("n_total") * col("w_g") / col("z") / col("n_g")), 9).as("rate"))
    val u = conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976.0) // 2^60
    t.documents
      .join(broadcast(rates), "source")
      .filter(u < col("rate"))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy("doc_id")
  }

  def domainMixSql(alpha: Double = 0.5, targetFrac: Double = 0.3): String =
    s"""WITH counts AS (
       |  SELECT source, count(*) AS n_g, pow(CAST(count(*) AS DOUBLE), $alpha) AS w_g
       |  FROM documents GROUP BY source
       |), z AS (SELECT sum(w_g) AS z, sum(n_g) AS n_total FROM counts),
       |rates AS (
       |  SELECT source, round(least(1.0, $targetFrac * n_total * w_g / z / n_g), 9) AS rate
       |  FROM counts CROSS JOIN z
       |)
       |SELECT doc_id, d.source AS source, lang
       |FROM documents d
       |JOIN rates r ON d.source = r.source
       |WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      / 1152921504606846976.0 < rate
       |ORDER BY doc_id""".stripMargin

  /** Per-source distribution drift: KL(source ‖ corpus) over unigram
    * distributions — the monitoring query a continuously-ingesting
    * pipeline runs to catch a source whose content shifted (spam
    * flood, template change, language drift) before it poisons the
    * mix. KL = Σ_w p_s(w)·ln(p_s(w)/p(w)); the source's support is a
    * subset of the corpus's by construction, so no zero-denominator
    * guard is needed. Scale shape: two word-keyed aggregates (map-side
    * combined) and one word-keyed join — only (word, count) pairs
    * shuffle, the per-source totals are a broadcast-sized dimension,
    * and the final sum is one row per source.
    */
  def domainDrift(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
      .select(col("source"), lower(trim(col("w"))).as("word"))
      .filter(col("word") =!= "")
    val srcCounts = toks.groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
    val srcTotals = srcCounts.groupBy("source").agg(sum(col("c_sw")).as("t_s"))
    val corpusCounts = srcCounts.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val corpusTotal = corpusCounts.agg(sum(col("c_w")).cast("double").as("t"))
    srcCounts
      .join(corpusCounts, "word")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(corpusTotal))
      .select(col("source"), col("t_s"),
        (col("c_sw").cast("double") / col("t_s")) .as("p_s"),
        (col("c_w").cast("double") / col("t")).as("p"))
      .groupBy(col("source"))
      .agg(max(col("t_s")).as("n_tokens"),
        round(sum(col("p_s") * log(col("p_s") / col("p"))), 6).as("kl"))
      .orderBy("source")
  }

  val domainDriftSql: String =
    """WITH toks AS (
      |  SELECT source, lower(trim(w)) AS word
      |  FROM (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
      |  WHERE lower(trim(w)) <> ''
      |), sc AS (SELECT source, word, count(*) AS c_sw FROM toks GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS t_s FROM sc GROUP BY source),
      |cc AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sc GROUP BY word),
      |ct AS (SELECT CAST(sum(c_w) AS DOUBLE) AS t FROM cc)
      |SELECT sc.source AS source, max(t_s) AS n_tokens,
      |  round(sum((CAST(c_sw AS DOUBLE) / t_s) * ln((CAST(c_sw AS DOUBLE) / t_s) / (CAST(c_w AS DOUBLE) / t))), 6) AS kl
      |FROM sc
      |JOIN cc ON sc.word = cc.word
      |JOIN st ON sc.source = st.source
      |CROSS JOIN ct
      |GROUP BY sc.source
      |ORDER BY source""".stripMargin

  /** Curation funnel report, per source: how many docs each dedup
    * stage would remove and what fraction survives — the artifact a
    * pipeline publishes with every snapshot so a regression in one
    * source's dedup rate is visible at a glance. Exact losers are
    * docs that are not their fingerprint group's representative;
    * near-dup losers are the LSH pair losers; `n_kept` counts docs
    * surviving BOTH (the sets overlap, so the union is counted, never
    * summed). Everything shuffles ids and 16-byte digests only.
    */
  def dedupReport(t: Tables): DataFrame = {
    val annotated = t.documents.select(col("doc_id"), col("source"),
      md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
    val keeps = annotated.groupBy("fp").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val exactLosers = annotated.select("doc_id").join(keeps, Seq("doc_id"), "left_anti")
    val nearLosers = Dedup.minhashLshPairs(t).select(col("doc_b").as("doc_id")).distinct()
    val flags = annotated.select("doc_id", "source")
      .join(exactLosers.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
      .join(nearLosers.withColumn("is_near", lit(1L)), Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("is_exact"), lit(0L)).as("is_exact"),
        coalesce(col("is_near"), lit(0L)).as("is_near"))
    flags.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_exact")).as("n_exact_losers"),
        sum(col("is_near")).as("n_neardup_losers"),
        sum(when(col("is_exact") === 0 && col("is_near") === 0, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("pct_kept", round(col("n_kept").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  def dedupReportSql: String =
    s"""WITH ann AS (
       |  SELECT doc_id, source,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents
       |), keeps AS (SELECT min(doc_id) AS doc_id FROM ann GROUP BY fp),
       |exact_losers AS (
       |  SELECT a.doc_id FROM ann a ANTI JOIN keeps k ON a.doc_id = k.doc_id
       |), near_losers AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (${Dedup.minhashLshPairsSql()})
       |), flags AS (
       |  SELECT a.source,
       |    CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS is_exact,
       |    CASE WHEN n.doc_id IS NULL THEN 0 ELSE 1 END AS is_near
       |  FROM ann a
       |  LEFT JOIN exact_losers e ON a.doc_id = e.doc_id
       |  LEFT JOIN near_losers n ON a.doc_id = n.doc_id
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(is_exact) AS BIGINT) AS n_exact_losers,
       |  CAST(sum(is_near) AS BIGINT) AS n_neardup_losers,
       |  CAST(sum(CASE WHEN is_exact = 0 AND is_near = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  round(CAST(sum(CASE WHEN is_exact = 0 AND is_near = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pct_kept
       |FROM flags GROUP BY source ORDER BY source""".stripMargin

  /** Canonicalize one URL column: lowercase, drop fragment, scheme,
    * `www.`, default ports, tracking query params (utm_*, fbclid,
    * gclid, ref), empty left-over `?`/`&`, and trailing slashes. Pure
    * regexp chain — codegen'd, no UDF — and every pattern avoids
    * lookarounds so the DuckDB (RE2) twin evaluates identically.
    * Whole-URL lowercasing is a declared heuristic (paths are
    * case-sensitive in theory, never meaningfully in crawl dedup).
    */
  def canonicalUrl(c: Column): Column = {
    val lowered  = lower(trim(c))
    val noFrag   = regexp_replace(lowered, "#.*$", "")
    val noScheme = regexp_replace(noFrag, "^https?://", "")
    val noWww    = regexp_replace(noScheme, "^www\\.", "")
    // ([/?]|$) anchors the port: without it ':8080' would match ':80'
    // and corrupt the host into 'example.com80/...'; '?' is included so
    // a default port directly before the query string still strips
    val noPort   = regexp_replace(noWww, "^([^/:]+):(80|443)([/?]|$)", "$1$3")
    // leading-separator form eats consecutive tracking params in one
    // pass and cannot false-match inside another key (e.g. href=)
    val noTrack  = regexp_replace(noPort, "[?&](utm_[a-z]+|fbclid|gclid|ref)=[^&]*", "")
    // if the strip removed the '?', promote the first surviving '&';
    // [^?&] keeps the capture before the FIRST '&' — a greedy [^?]+
    // would swallow intermediate '&'s and promote the last one,
    // mangling 'a.com/x&id=2&b=3' into 'a.com/x&id=2?b=3'
    val requery  = regexp_replace(noTrack, "^([^?&]+)&", "$1?")
    val noDangle = regexp_replace(requery, "[?&]+$", "")
    regexp_replace(noDangle, "/+$", "")
  }

  /** URL canonicalization + dedup — the crawl-pipeline step before any
    * content dedup: page variants that differ only in scheme, case,
    * `www.`, default port, fragment, tracking params or trailing slash
    * are one fetch identity. The gate plants deterministic messy URLs
    * from doc_id (the `pii_redact` trick — the data has no URL column,
    * so the query manufactures the five variant shapes and must
    * collapse them). Output is the canonical-URL manifest (variant
    * count + representative doc): one scan, one groupBy on the
    * canonical string — at 100 TB only (url-hash, doc_id) pairs
    * shuffle.
    */
  private def plantedUrl: Column = {
    val base = concat(lit("example"), (col("doc_id") % 97).cast("string"),
      lit(".com/path/p"), (col("doc_id") % 97).cast("string"))
    when(col("doc_id") % 5 === 0, concat(lit("https://"), base))
      .when(col("doc_id") % 5 === 1, upper(concat(lit("http://"), base, lit("/"))))
      .when(col("doc_id") % 5 === 2, concat(lit("https://www."), base, lit("?utm_source=feed")))
      .when(col("doc_id") % 5 === 3, concat(lit("http://"),
        regexp_replace(base, "\\.com/", ".com:80/"), lit("#frag")))
      .otherwise(concat(lit("https://"), base, lit("?id=1&utm_campaign=x")))
  }

  def urlCanonicalize(t: Tables): DataFrame = {
    val url = plantedUrl
    t.documents
      .select(col("doc_id"), canonicalUrl(url).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("first_doc"))
      .orderBy("canonical_url")
  }

  /** Shared planted-URL + canonicalization CTEs for BOTH URL twins
    * (r14, ADVICE r13: dedupUrlSql previously duplicated this block
    * verbatim, so an edit to the variant shapes or the 8-step regexp
    * chain could silently de-sync the two oracles — and both from the
    * Scala [[canonicalUrl]]/[[plantedUrl]] they mirror). `withLen`
    * threads `text_len` through both CTEs for the content-aware keeper
    * ([[dedupUrl]]); the identity manifest does not read it. The
    * dsirCte pattern.
    */
  private def urlCanonCte(withLen: Boolean): String = {
    val lenInner   = if (withLen) ", text" else ""
    val lenPlanted = if (withLen) ", length(text) AS text_len" else ""
    val lenCanon   = if (withLen) ", text_len" else ""
    s"""WITH planted AS (
       |  SELECT doc_id$lenPlanted,
       |    CASE CAST(doc_id % 5 AS INT)
       |      WHEN 0 THEN 'https://' || base
       |      WHEN 1 THEN upper('http://' || base || '/')
       |      WHEN 2 THEN 'https://www.' || base || '?utm_source=feed'
       |      WHEN 3 THEN 'http://' || replace(base, '.com/', '.com:80/') || '#frag'
       |      ELSE 'https://' || base || '?id=1&utm_campaign=x'
       |    END AS url
       |  FROM (
       |    SELECT doc_id$lenInner,
       |      'example' || CAST(doc_id % 97 AS VARCHAR) || '.com/path/p' || CAST(doc_id % 97 AS VARCHAR) AS base
       |    FROM documents)
       |), canon AS (
       |  SELECT doc_id$lenCanon,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(
       |            regexp_replace(
       |              regexp_replace(
       |                regexp_replace(
       |                  regexp_replace(lower(trim(url)), '#.*$$', ''),
       |                  '^https?://', ''),
       |                '^www\\.', ''),
       |              '^([^/:]+):(80|443)([/?]|$$)', '\\1\\3'),
       |            '[?&](utm_[a-z]+|fbclid|gclid|ref)=[^&]*', '', 'g'),
       |          '^([^?&]+)&', '\\1?'),
       |        '[?&]+$$', ''),
       |      '/+$$', '') AS canonical_url
       |  FROM planted
       |)""".stripMargin
  }

  def urlCanonicalizeSql: String =
    s"""${urlCanonCte(withLen = false)}
       |SELECT canonical_url, count(*) AS n_variants, min(doc_id) AS first_doc
       |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin

  /** URL-level dedup with a CONTENT-AWARE keeper — the step after
    * [[urlCanonicalize]]'s identity manifest: when several captures
    * share a fetch identity (re-crawls, mirror variants), keep the
    * best one. The crawl-pipeline keeper rule is "longest capture wins"
    * (a truncated or botched fetch loses to a complete one), tie-broken
    * by doc_id for determinism. One url-keyed shuffle serves both the
    * rank and the variant count (same partition key, one exchange);
    * only (canonical_url, doc_id, text_len) triples shuffle — never
    * text — so at 100 TB this is a url-hash-keyed window over 3-column
    * rows, the same shape `q_topk_per_group` scales with.
    */
  def dedupUrl(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = t.documents.select(col("doc_id"),
      length(col("text")).cast("long").as("text_len"),
      canonicalUrl(plantedUrl).as("canonical_url"))
    val byUrl = Window.partitionBy("canonical_url")
    canon
      .withColumn("rn", row_number().over(byUrl.orderBy(col("text_len").desc, col("doc_id"))))
      .withColumn("n_variants", count(lit(1)).over(byUrl))
      .filter(col("rn") === 1)
      .select(col("canonical_url"), col("doc_id").as("kept_doc"),
        col("text_len").as("kept_len"), col("n_variants"))
      .orderBy("canonical_url")
  }

  def dedupUrlSql: String =
    s"""${urlCanonCte(withLen = true)}, ranked AS (
       |  SELECT canonical_url, doc_id, text_len,
       |    row_number() OVER (PARTITION BY canonical_url ORDER BY text_len DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY canonical_url) AS n_variants
       |  FROM canon
       |)
       |SELECT canonical_url, doc_id AS kept_doc, text_len AS kept_len, n_variants
       |FROM ranked WHERE rn = 1 ORDER BY canonical_url""".stripMargin

  /** Epoch-capped mixture planning — the OTHER half of [[domainMix]]:
    * domainMix SAMPLES docs under temperature weights; this computes
    * the per-source repetition plan a token-budgeted training run
    * actually executes (the data-constrained regime: a small
    * high-weight source is repeated, but repetition caps at
    * `maxEpochs` — past ~4 epochs repeated text stops helping — and
    * the capped tokens are what the run really sees). Per source:
    *   - target_share ∝ n_tokens^alpha (the [[domainMix]] temperature
    *     move, rounded 9dp so pow's last-ulp noise can't leak),
    *   - epochs = min(maxEpochs, budget·target_share / n_tokens) with
    *     budget = budgetEpochs·N_total tokens (rounded 6dp),
    *   - achieved_tokens = round(epochs·n_tokens) — an exact LONG so
    *     the achieved-share division is deterministic cross-engine,
    *   - achieved_share = achieved / Σachieved (what the cap did to
    *     the target mix — the number a data-mix review reads first).
    * Shape: one map-side token count per source, then arithmetic on
    * the ≤|sources| grid with two 1-row broadcasts. Nothing
    * corpus-sized survives the first aggregate.
    */
  def mixEpochs(t: Tables, alpha: Double = 0.5, budgetEpochs: Double = 2.0,
      maxEpochs: Double = 4.0): DataFrame = {
    val toks = t.documents
      .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
      .select(col("source"), lower(trim(col("w"))).as("word"))
      .filter(col("word") =!= "")
    val counts = toks.groupBy("source").agg(count(lit(1)).as("n_tokens"))
      .withColumn("w_g", pow(col("n_tokens").cast("double"), alpha))
    val z = counts.agg(sum(col("w_g")).as("z"), sum(col("n_tokens")).as("n_total"))
    val planned = counts.crossJoin(broadcast(z))
      .withColumn("target_share", round(col("w_g") / col("z"), 9))
      .withColumn("epochs",
        round(least(lit(maxEpochs),
          lit(budgetEpochs) * col("n_total") * col("target_share") / col("n_tokens")), 6))
      .withColumn("achieved_tokens",
        round(col("epochs") * col("n_tokens"), 0).cast("long"))
    val total = planned.agg(sum(col("achieved_tokens")).as("a_total"))
    planned.crossJoin(broadcast(total))
      .select(col("source"), col("n_tokens"), col("target_share"), col("epochs"),
        col("achieved_tokens"),
        round(col("achieved_tokens").cast("double") / col("a_total"), 6).as("achieved_share"))
      .orderBy("source")
  }

  def mixEpochsSql(alpha: Double = 0.5, budgetEpochs: Double = 2.0,
      maxEpochs: Double = 4.0): String =
    s"""WITH toks AS (
       |  SELECT source, lower(trim(w)) AS word
       |  FROM (SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
       |  WHERE lower(trim(w)) <> ''
       |), counts AS (
       |  SELECT source, count(*) AS n_tokens,
       |    pow(CAST(count(*) AS DOUBLE), $alpha) AS w_g
       |  FROM toks GROUP BY source
       |), z AS (SELECT sum(w_g) AS z, sum(n_tokens) AS n_total FROM counts),
       |planned AS (
       |  SELECT source, n_tokens,
       |    round(w_g / z, 9) AS target_share,
       |    round(least($maxEpochs, $budgetEpochs * n_total * round(w_g / z, 9) / n_tokens), 6) AS epochs
       |  FROM counts CROSS JOIN z
       |), achieved AS (
       |  SELECT source, n_tokens, target_share, epochs,
       |    CAST(round(epochs * n_tokens, 0) AS BIGINT) AS achieved_tokens
       |  FROM planned
       |), total AS (SELECT sum(achieved_tokens) AS a_total FROM achieved)
       |SELECT source, n_tokens, target_share, epochs, achieved_tokens,
       |  round(CAST(achieved_tokens AS DOUBLE) / a_total, 6) AS achieved_share
       |FROM achieved CROSS JOIN total ORDER BY source""".stripMargin

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — the
    * pick-what-looks-like-the-target selection every curated
    * pretraining mix runs: score each document by the log-likelihood
    * ratio of its text under a TARGET bag-of-hashed-ngrams model vs
    * the SOURCE model. Target here is the English sub-corpus (the
    * in-domain seed a real run would point at a quality reference);
    * source is everything else. Both models are Laplace-smoothed
    * hashed-unigram histograms over `buckets` cells — hashing is what
    * makes the method 100 TB-cheap: the model is a FIXED-size table
    * however large the vocabulary, so it broadcasts by construction
    * (the hint is safe — ≤`buckets` rows is a constant bound, the same
    * policy as the nation/region dims), and scoring is one map-side
    * join + one doc-keyed aggregate. Per-doc score = mean over tokens
    * of ln p_t(bucket) − ln p_s(bucket), rounded 6dp (the
    * `quality_unigram_lp` float-sum precedent). The md5-derived bucket
    * is engine-portable; counts are exact LONGs, so both engines log
    * identical doubles.
    */
  def dsirWeights(t: Tables, buckets: Int = 256): DataFrame = {
    // Par.spread: toks is consumed twice (model counts + scoring), so
    // the md5-per-token scan stage runs twice — serialized on one core
    // over the single-row-group local file; no-op at scale (guide §2.5)
    val toks = Par.spread(t.documents, "doc_id")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), "\\s+")).as("w"))
      .select(col("doc_id"), col("lang"), lower(trim(col("w"))).as("word"))
      .filter(col("word") =!= "")
      .withColumn("b", conv(substring(md5(col("word")), 1, 8), 16, 10)
        .cast("long") % buckets)
    val counts = toks.groupBy("b").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("c_s"))
    val totals = counts.agg(sum(col("c_t")).as("n_t"), sum(col("c_s")).as("n_s"))
    val lm = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        ((col("c_t") + 1).cast("double") / (col("n_t") + lit(buckets))).as("p_t"),
        ((col("c_s") + 1).cast("double") / (col("n_s") + lit(buckets))).as("p_s"))
    toks.join(broadcast(lm), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("p_t")) - log(col("p_s"))), 6).as("dsir_logratio"))
      .orderBy("doc_id")
  }

  private def dsirCte(buckets: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, lower(trim(w)) AS word
       |  FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
       |  WHERE lower(trim(w)) <> ''
       |), tb AS (
       |  SELECT doc_id, lang, ('0x' || substr(md5(word), 1, 8))::BIGINT % $buckets AS b
       |  FROM toks
       |), counts AS (
       |  SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t,
       |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_s
       |  FROM tb GROUP BY b
       |), tot AS (SELECT sum(c_t) AS n_t, sum(c_s) AS n_s FROM counts),
       |lm AS (
       |  SELECT b, CAST(c_t + 1 AS DOUBLE) / (n_t + $buckets) AS p_t,
       |    CAST(c_s + 1 AS DOUBLE) / (n_s + $buckets) AS p_s
       |  FROM counts CROSS JOIN tot
       |), scored AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    round(avg(ln(p_t) - ln(p_s)), 6) AS dsir_logratio
       |  FROM tb JOIN lm USING (b)
       |  GROUP BY doc_id
       |)""".stripMargin

  def dsirWeightsSql(buckets: Int = 256): String =
    s"""${dsirCte(buckets)}
       |SELECT doc_id, n_tokens, dsir_logratio FROM scored ORDER BY doc_id""".stripMargin

  /** The RESAMPLING half of DSIR: a deterministic weight-proportional
    * sample with weight exp(dsir_logratio) — documents that look like
    * the target are proportionally likelier to be kept, but the
    * source's diversity still enters (the paper's argument for
    * sampling over top-k truncation). Selection is the
    * `q_weighted_sample` sequential-Poisson machinery verbatim: key =
    * md5-uniform / weight, k smallest via TakeOrdered — no RNG state,
    * reproducible across engines and cluster sizes. The weight is the
    * paper's UNNORMALIZED sequence likelihood ratio p_t(x)/p_s(x) =
    * exp(mean · n_tokens) — the per-token mean is the length-robust
    * REPORTING score, but resampling must weight whole documents or a
    * 500-token on-target doc ties a 5-token one. The exponent is
    * clamped at ±50 (identically in both engines) so an extreme doc
    * saturates instead of overflowing to Inf; it is built from the
    * 6dp-ROUNDED mean, so both engines exponentiate the identical
    * double.
    */
  def dsirSample(t: Tables, k: Int = 100, buckets: Int = 256): DataFrame = {
    val scored = dsirWeights(t, buckets)
    val u = conv(substring(md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976.0) // 2^60
    scored
      .withColumn("key", u / exp(least(lit(50.0), greatest(lit(-50.0),
        col("dsir_logratio") * col("n_tokens")))))
      .orderBy(col("key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("dsir_logratio"))
      .orderBy("doc_id")
  }

  def dsirSampleSql(k: Int = 100, buckets: Int = 256): String =
    s"""${dsirCte(buckets)}
       |SELECT doc_id, n_tokens, dsir_logratio
       |FROM (
       |  SELECT *, ('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      / 1152921504606846976.0
       |      / exp(least(50.0, greatest(-50.0, dsir_logratio * n_tokens))) AS key
       |  FROM scored
       |  ORDER BY key, doc_id LIMIT $k
       |) ORDER BY doc_id""".stripMargin

  def curateSql(minQuality: Double = 0.5, spanK: Int = 10): String = {
    val stops = TextAnalysis.stopListSql("en")
    s"""WITH keeps AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM documents
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |), losers AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (${Dedup.minhashLshPairsSql()})
       |), survivors AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  SEMI JOIN keeps ON d.doc_id = keeps.doc_id
       |  ANTI JOIN losers ON d.doc_id = losers.doc_id
       |), toksv AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
       |  FROM survivors
       |), wins AS (
       |  SELECT doc_id, i AS start,
       |    ('0x' || substr(md5(array_to_string(w[i+1 : i+$spanK], ' ')), 1, 15))::BIGINT AS win_hash
       |  FROM toksv, unnest(range(0, len(w) - $spanK + 1)) r(i)
       |  WHERE len(w) >= $spanK
       |), repeated AS (
       |  SELECT win_hash FROM wins GROUP BY win_hash HAVING count(DISTINCT doc_id) > 1
       |), flagged AS (
       |  SELECT doc_id, start FROM wins SEMI JOIN repeated USING (win_hash)
       |), gaps AS (
       |  SELECT doc_id, start,
       |    CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= $spanK
       |         THEN 0 ELSE 1 END AS gap
       |  FROM flagged
       |), islands AS (
       |  SELECT doc_id, start,
       |    sum(gap) OVER (PARTITION BY doc_id ORDER BY start) AS island
       |  FROM gaps
       |), spans AS (
       |  SELECT doc_id, min(start) AS s, max(start) + ${spanK - 1} AS e
       |  FROM islands GROUP BY doc_id, island
       |), tok AS (
       |  SELECT doc_id, i - 1 AS idx, tokv
       |  FROM (SELECT doc_id, unnest(w) AS tokv, generate_subscripts(w, 1) AS i FROM toksv)
       |), cutidx AS (
       |  SELECT DISTINCT t.doc_id, t.idx
       |  FROM tok t JOIN spans s ON s.doc_id = t.doc_id AND t.idx BETWEEN s.s AND s.e
       |), clean AS (
       |  SELECT t.doc_id, string_agg(t.tokv, ' ' ORDER BY t.idx) AS clean_text
       |  FROM tok t
       |  ANTI JOIN cutidx c ON t.doc_id = c.doc_id AND t.idx = c.idx
       |  GROUP BY t.doc_id
       |), lang AS (SELECT doc_id, lang_pred FROM (${TextAnalysis.langIdSql})),
       |qual AS (
       |  SELECT doc_id,
       |    round(least(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5 +
       |          (1.0 - CAST(punct AS DOUBLE) / n_chars) * 0.25 +
       |          least(CAST(stops AS DOUBLE) / n_tokens * 5, 1.0) * 0.25, 6) AS quality
       |  FROM (
       |    SELECT doc_id, length(clean_text) AS n_chars,
       |      len(regexp_split_to_array(trim(clean_text), '\\s+')) AS n_tokens,
       |      length(regexp_replace(clean_text, '[^.,;:!?]', '', 'g')) AS punct,
       |      len(list_filter(regexp_split_to_array(lower(trim(clean_text)), '\\s+'),
       |        w -> list_contains([$stops], w))) AS stops
       |    FROM clean)
       |)
       |SELECT lang.doc_id AS doc_id, lang.lang_pred, qual.quality
       |FROM lang
       |JOIN qual ON lang.doc_id = qual.doc_id
       |WHERE qual.quality >= $minQuality
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- source overlap

  /** Cross-source near-duplicate matrix: MinHash-LSH candidate pairs
    * rolled up by the (source, source) they straddle, symmetric via
    * least/greatest orientation. The report that locates WHERE
    * duplication comes from — a hot off-diagonal cell means two crawls
    * mirror each other (dedup one against the other); a hot diagonal
    * means a source self-duplicates (templating). Only id pairs join
    * the doc→source map; the matrix is ≤|sources|². The DuckDB oracle
    * wraps the same gated pairs SQL, so the whole path is hash-checked.
    */
  def sourceOverlap(t: Tables): DataFrame = {
    val src = t.documents.select(col("doc_id"), col("source"))
    Dedup.minhashLshPairs(t)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  def sourceOverlapSql(): String =
    s"""WITH lsh_pairs AS (
       |  SELECT doc_a, doc_b FROM (${Dedup.minhashLshPairsSql()})
       |)
       |SELECT least(da.source, db.source) AS src_a,
       |  greatest(da.source, db.source) AS src_b,
       |  count(*) AS n_pairs
       |FROM lsh_pairs p
       |JOIN documents da ON da.doc_id = p.doc_a
       |JOIN documents db ON db.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------ split leakage audit

  /** Train/eval split-leakage audit — the check run right after
    * `q_train_split` and before any eval number is trusted: how many
    * val/test documents share an exact normalized fingerprint with a
    * TRAIN document? (Near-dup leakage composes the same probe with
    * the `dedup_minhash_probe` band index; this is the exact tier.)
    * One fingerprint pass over the corpus, the deterministic md5
    * split rule, then a semi join of each probe split's fingerprints
    * against the train side — 16-byte digests are all that shuffles,
    * leak rates divide exact LONGs. At 100 TB the train fingerprint
    * set is the big side and the join is a plain digest-keyed
    * shuffle; nothing corpus-sized is broadcast.
    */
  def splitLeakageOf(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("doc_id"),
        md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
    val trainFps = fps.filter(col("split") === "train").select("fp").distinct()
    val probes = fps.filter(col("split") =!= "train")
    val leaked = probes.join(trainFps, Seq("fp"), "left_semi")
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
    probes.groupBy(col("split")).agg(count(lit(1)).as("n_probe"))
      .join(leaked, Seq("split"), "left")
      .select(col("split").as("probe_split"), col("n_probe"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        (coalesce(col("n_leaked"), lit(0L)).cast("double")
          / col("n_probe").cast("double")).as("leak_rate"))
      .orderBy("probe_split")
  }

  def splitLeakage(t: Tables): DataFrame = splitLeakageOf(t.documents)

  val splitLeakageSql: String =
    """WITH fps AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents
      |), tagged AS (
      |  SELECT doc_id, fp,
      |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM fps
      |), train_fps AS (SELECT DISTINCT fp FROM tagged WHERE split = 'train'
      |), probes AS (SELECT * FROM tagged WHERE split <> 'train'
      |), leaked AS (
      |  SELECT split, count(*) AS n_leaked FROM probes
      |  WHERE fp IN (SELECT fp FROM train_fps) GROUP BY split
      |)
      |SELECT p.split AS probe_split, count(*) AS n_probe,
      |  CAST(coalesce(any_value(l.n_leaked), 0) AS BIGINT) AS n_leaked,
      |  CAST(coalesce(any_value(l.n_leaked), 0) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS leak_rate
      |FROM probes p LEFT JOIN leaked l ON l.split = p.split
      |GROUP BY p.split
      |ORDER BY probe_split""".stripMargin

  // --------------------------------------------------- filter funnel

  /** Staged-gate attrition report — the funnel chart a curation run
    * publishes: gates applied in pipeline order (exact dedup → LID →
    * Gopher quality → blocklist), one row per stage with exact in/out
    * counts, the stage's removal rate, and cumulative survival. The
    * ORDER is load-bearing and the report is what justifies it: a
    * gate's removal count here is its MARGINAL effect after everything
    * upstream, not its solo pass rate (`quality_pass_rates` reports
    * those), which is how pipeline papers present ablations (e.g. the
    * RefinedWeb / FineWeb attrition tables).
    *
    * Plan: ONE per-doc projection computes all four keep flags (the
    * dedup keeper needs a fingerprint-keyed window — the only shuffle,
    * same shape as `dedup_exact`; LID/Gopher/blocklist are row-local
    * codegen), one 1-row aggregate folds the running conjunctions, and
    * the 4 stage rows inline from it — no collect, nothing driver-side.
    */
  def filterFunnelOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val flags = docs
      .select(col("doc_id"), col("lang"), col("text"),
        md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
      .withColumn("k1", when(col("doc_id") === min(col("doc_id")).over(w), 1).otherwise(0))
      .select(col("k1"),
        // the LID gate of a monolingual run: drop the script the
        // downstream tokenizer isn't trained for
        when(col("lang") =!= "zh", 1).otherwise(0).as("k2"),
        QualityRules.gopherPassCol(col("text")).as("k3"),
        QualityRules.blocklistKeepCol(col("text")).as("k4"))
    val agg = flags.agg(
      count(lit(1)).as("n"),
      sum(col("k1").cast("long")).as("a1"),
      sum((col("k1") * col("k2")).cast("long")).as("a2"),
      sum((col("k1") * col("k2") * col("k3")).cast("long")).as("a3"),
      sum((col("k1") * col("k2") * col("k3") * col("k4")).cast("long")).as("a4"))
    def stage(idx: Int, name: String, nIn: Column, nOut: Column) =
      struct(lit(idx).as("stage_idx"), lit(name).as("stage"),
        nIn.as("n_in"), (nIn - nOut).as("n_removed"), nOut.as("n_out"),
        round((nIn - nOut).cast("double") / greatest(nIn, lit(1L)), 6).as("removal_rate"),
        round(nOut.cast("double") / greatest(col("n"), lit(1L)), 6).as("survival"))
    agg.select(explode(array(
        stage(1, "exact_dedup", col("n"), col("a1")),
        stage(2, "lang_filter", col("a1"), col("a2")),
        stage(3, "gopher_quality", col("a2"), col("a3")),
        stage(4, "blocklist", col("a3"), col("a4")))).as("s"))
      .select(col("s.*"))
      .orderBy("stage_idx")
  }

  def filterFunnel(t: Tables): DataFrame = filterFunnelOf(t.documents)

  def filterFunnelSql(): String =
    s"""WITH gp AS (
       |  SELECT doc_id, gopher_pass FROM (${QualityRules.gopherRulesSql()})
       |), bl AS (
       |  SELECT doc_id, ratio_keep FROM (${QualityRules.blocklistSql()})
       |), base AS (
       |  SELECT doc_id, lang,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents
       |), flags AS (
       |  SELECT
       |    CASE WHEN b.doc_id = min(b.doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS k1,
       |    CASE WHEN b.lang <> 'zh' THEN 1 ELSE 0 END AS k2,
       |    gp.gopher_pass AS k3, bl.ratio_keep AS k4
       |  FROM base b JOIN gp USING (doc_id) JOIN bl USING (doc_id)
       |), agg AS (
       |  SELECT count(*) AS n, sum(k1) AS a1, sum(k1*k2) AS a2,
       |    sum(k1*k2*k3) AS a3, sum(k1*k2*k3*k4) AS a4
       |  FROM flags
       |), stages AS (
       |  SELECT 1 AS stage_idx, 'exact_dedup' AS stage, n AS n_in, a1 AS n_out, n FROM agg
       |  UNION ALL SELECT 2, 'lang_filter', a1, a2, n FROM agg
       |  UNION ALL SELECT 3, 'gopher_quality', a2, a3, n FROM agg
       |  UNION ALL SELECT 4, 'blocklist', a3, a4, n FROM agg
       |)
       |SELECT stage_idx, stage,
       |  CAST(n_in AS BIGINT) AS n_in,
       |  CAST(n_in - n_out AS BIGINT) AS n_removed,
       |  CAST(n_out AS BIGINT) AS n_out,
       |  round(CAST(n_in - n_out AS DOUBLE) / greatest(n_in, 1), 6) AS removal_rate,
       |  round(CAST(n_out AS DOUBLE) / greatest(n, 1), 6) AS survival
       |FROM stages ORDER BY stage_idx""".stripMargin

  // --------------------------------------------- DP-noised release

  /** Differentially-private per-source release — the Laplace mechanism
    * (Dwork et al. 2006) over the two counts a public data card
    * publishes: documents and tokens per source. Doc counts have
    * add/remove-one sensitivity 1; token sums are first clamped to a
    * per-doc contribution bound `clamp` (the standard bounded-
    * contribution trick), making their sensitivity exactly `clamp`.
    * Noise is Laplace(sensitivity/ε) drawn via inverse-CDF from a
    * deterministic md5 fraction of the group key — reproducible across
    * runs, engines and cluster layouts (the `domain_mix` seeding
    * pattern; a production release swaps in a real RNG, nothing else
    * changes). Exact columns ride along so the gate (and a calibration
    * review) can see the noise; a real release drops them.
    *
    * Scale shape: one map-side-combined aggregate over source (20
    * groups here, ~10³ in production — driver-bounded either way);
    * the noise math is per-GROUP, not per-row, so its cost is nil.
    */
  def dpCountsOf(docs: DataFrame, eps: Double = 1.0, clamp: Long = 1000L): DataFrame = {
    val ws = size(split(trim(col("text")), "\\s+")).cast("long")
    val g = docs.select(col("source"), least(ws, lit(clamp)).as("ws_c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_c").cast("decimal(18,0)")).cast("long").as("tokens_clamped"))
    def lap(tag: String, b: Column): Column = {
      // u ∈ [0,1) from 15 md5 hex digits; centered u' ∈ [-0.5, 0.5);
      // inverse CDF: -b·sign(u')·ln(1-2|u'|)
      val u  = conv(substring(md5(concat(lit(s"dp:$tag:"), col("source"))), 1, 15), 16, 10)
        .cast("double") / lit(Math.pow(16.0, 15))
      val uc = u - lit(0.5)
      -b * signum(uc) * log(lit(1.0) - lit(2.0) * abs(uc))
    }
    g.select(col("source"), col("n_docs"), col("tokens_clamped"),
        round(col("n_docs") + lap("docs", lit(1.0 / eps)), 6).as("dp_docs"),
        round(col("tokens_clamped") + lap("tokens", lit(clamp.toDouble / eps)), 6)
          .as("dp_tokens"),
        lit(eps).as("eps"), lit(clamp).as("clamp"))
      .orderBy("source")
  }

  def dpCounts(t: Tables): DataFrame = dpCountsOf(t.documents)

  def dpCountsSql(eps: Double = 1.0, clamp: Long = 1000L): String = {
    def lap(tag: String, b: String) =
      s"""-($b) * sign(u_$tag - 0.5) * ln(1.0 - 2.0 * abs(u_$tag - 0.5))"""
    s"""WITH g AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS HUGEINT),
       |      $clamp)) AS BIGINT) AS tokens_clamped
       |  FROM documents GROUP BY source
       |), u AS (
       |  SELECT *,
       |    CAST(('0x' || substr(md5('dp:docs:' || source), 1, 15))::BIGINT AS DOUBLE)
       |      / power(16, 15) AS u_docs,
       |    CAST(('0x' || substr(md5('dp:tokens:' || source), 1, 15))::BIGINT AS DOUBLE)
       |      / power(16, 15) AS u_tokens
       |  FROM g
       |)
       |SELECT source, n_docs, tokens_clamped,
       |  round(n_docs + ${lap("docs", s"1.0 / $eps")}, 6) AS dp_docs,
       |  round(tokens_clamped + ${lap("tokens", s"CAST($clamp AS DOUBLE) / $eps")}, 6) AS dp_tokens,
       |  CAST($eps AS DOUBLE) AS eps, CAST($clamp AS BIGINT) AS clamp
       |FROM u ORDER BY source""".stripMargin
  }

  // --------------------------------------------------- dataset card

  /** One-row dataset card — the summary block at the top of every
    * dataset release: corpus size (docs / whitespace tokens / chars),
    * diversity (distinct sources, languages), exact-duplicate rate
    * (1 − distinct normalized fingerprints / docs — the removal rate
    * `dedup_fingerprint` would realize), short-doc share, and the
    * median document length (exact interpolating percentile over
    * integer token counts — `percentile` ≡ `quantile_cont`). ONE
    * per-doc projection feeds three bounded aggregates; every ratio
    * divides exact integers, unrounded. The card is the artifact a
    * data-governance review reads before anything ships.
    */
  def datasetCardOf(docs: DataFrame, shortDocTokens: Int = 5): DataFrame = {
    val perDoc = docs.select(
      col("source"), col("lang"), col("n_chars"),
      md5(TextAnalysis.normalizedText(col("text"))).as("fp"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("ws"))
    perDoc.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("ws").cast("decimal(18,0)")).cast("long").as("ws_tokens"),
        sum(col("n_chars").cast("decimal(18,0)")).cast("long").as("chars"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        sum(when(col("ws") < shortDocTokens, 1L).otherwise(0L)).as("n_short"),
        expr("percentile(ws, 0.5)").as("median_doc_tokens"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("ws_tokens"), col("chars"),
        ((col("n_docs") - col("n_distinct_fp")).cast("double")
          / col("n_docs").cast("double")).as("exact_dup_rate"),
        (col("n_short").cast("double") / col("n_docs").cast("double"))
          .as("short_doc_share"),
        col("median_doc_tokens"))
  }

  def datasetCard(t: Tables): DataFrame = datasetCardOf(t.documents)

  def datasetCardSql(shortDocTokens: Int = 5): String =
    s"""WITH per_doc AS (
       |  SELECT source, lang, n_chars,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |    len(regexp_split_to_array(trim(text), '\\s+')) AS ws
       |  FROM documents
       |)
       |SELECT count(*) AS n_docs,
       |  count(DISTINCT source) AS n_sources,
       |  count(DISTINCT lang) AS n_langs,
       |  CAST(sum(CAST(ws AS HUGEINT)) AS BIGINT) AS ws_tokens,
       |  CAST(sum(CAST(n_chars AS HUGEINT)) AS BIGINT) AS chars,
       |  CAST(count(*) - count(DISTINCT fp) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS exact_dup_rate,
       |  CAST(sum(CASE WHEN ws < $shortDocTokens THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS short_doc_share,
       |  quantile_cont(ws, 0.5) AS median_doc_tokens
       |FROM per_doc""".stripMargin
}
