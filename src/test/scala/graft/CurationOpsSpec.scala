package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curate, Decontaminate, TextAnalysis}
import graft.sources.Tables

/** Round-4 curation operators: decontamination, domain mixing, PII
  * redaction, normalization — semantics the hash gate can't localize.
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private def t = Tables(spark, TestSpark.sf)

  test("decontaminate: a planted verbatim eval copy is flagged with contamination 1.0") {
    val eval  = Seq((0L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // full leak
      (11L, "completely unrelated words about spark partitions and shuffles"))
      .toDF("doc_id", "text")
    val hits = Decontaminate.contaminationPairsOf(train, eval).collect()
    assert(hits.map(_.getLong(0)).toSet == Set(10L))
    assert(hits.head.getDouble(3) == 1.0)
  }

  test("decontaminate: overlap below minOverlap is not flagged") {
    val eval  = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val train = Seq((10L, "alpha beta gamma completely different tail here now")).toDF("doc_id", "text")
    // shares exactly 1 trigram ("alpha beta gamma") < default minOverlap=3
    assert(Decontaminate.contaminationPairsOf(train, eval).count() == 0)
  }

  test("bloom decontamination: no false negatives vs the exact pass, and selective") {
    // every exactly-contaminated training doc (pair overlap >= 3 with
    // some eval doc) has >= 3 shingles in the eval UNION, and a Bloom
    // filter has no false negatives — so exact-flagged ⊆ bloom-flagged
    val exact = Decontaminate.contaminationQuery(t)
      .select("train_id").distinct().collect().map(_.getLong(0)).toSet
    val bloom = Decontaminate.bloomContaminatedDocs(t)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(bloom),
      s"bloom missed exactly-contaminated docs: ${exact -- bloom}")
    // and it must FILTER, not wave everything through: the flagged set
    // stays a strict minority of the training corpus (FPR + union-hit
    // extras are bounded at the default sizing)
    val nTrain = t.documents.filter(col("doc_id") % 19 =!= 0).count()
    assert(bloom.size < nTrain / 2,
      s"bloom flagged ${bloom.size} of $nTrain training docs — not selective")
  }

  test("sketch-family verdict gates: bloom/cms grids all-true and shaped like their oracles (r12)") {
    // q_bloom_gate: one row per EXACT contaminated doc, every one flagged
    val bg = Decontaminate.bloomGate(t).collect()
    val nExact = Decontaminate.contaminationQuery(t).select("train_id").distinct().count()
    assert(bg.length == nExact && bg.forall(_.getBoolean(1)),
      s"bloom gate: ${bg.count(!_.getBoolean(1))} of ${bg.length} exact docs unflagged")
    // q_cms_gate: the full candidate grid, never-under AND within-εN
    val cg = TextAnalysis.cmsGate(t).collect()
    assert(cg.length == 10)
    cg.foreach(r => assert(r.getBoolean(1) && r.getBoolean(2),
      s"cms gate broke for '${r.getString(0)}'"))
  }

  test("cms heavy hitters: estimates never undercount and overcount by at most ~εN") {
    val rows = TextAnalysis.cmsHeavyHitters(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val n = graft.operators.WordPipeline.tokens(t).count()
    val slack = math.ceil(0.001 * math.E * n).toLong.max(1) // εN at the sketch's width
    rows.foreach { case (w, exact, est) =>
      assert(est >= exact, s"CMS undercounted '$w': $est < $exact")
      assert(est <= exact + slack, s"CMS overcounted '$w' beyond εN: $est > $exact + $slack")
    }
  }

  test("cms probe: fixed candidates never undercount; no exact word aggregate in the plan") {
    val probe = TextAnalysis.cmsProbe(t)
    // the production shape: the ONLY aggregate is the sketch build —
    // candidates must not be derived from an exact count
    val aggs = probe.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 1, s"expected only the sketch-build aggregate, got ${aggs.size}")
    assert(aggs.head.aggregateExpressions.mkString.contains("count_min_sketch"))
    val est = probe.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.operators.WordPipeline.tokens(t)
      .filter(col("word").isin(est.keySet.toSeq: _*))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    est.foreach { case (w, e) =>
      assert(e >= exact.getOrElse(w, 0L), s"CMS undercounted '$w': $e < ${exact.get(w)}")
    }
  }

  test("domain_mix: every source is sampled at most at its own size and rates upweight small sources") {
    val mixed = Curate.domainMix(t)
    val perSource = mixed.groupBy("source").agg(count(lit(1)).as("n_kept"))
      .join(t.documents.groupBy("source").agg(count(lit(1)).as("n_g")), "source")
      .collect()
    perSource.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), s"source ${r.getString(0)} kept more than it has")
    }
    // deterministic: same plan twice → identical sample
    val a = mixed.collect().map(_.getLong(0)).toSeq
    val b = Curate.domainMix(t).collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("chunk_text: overlapping windows cover every token; short docs yield one chunk") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 tokens
      (2L, "a b c")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkTextOf(docs, k = 32, stride = 24).collect()
    val d1 = chunks.filter(_.getLong(0) == 1L)
    // starts: 0,24,48,72 → last window covers tokens 72..99 (28 tokens)
    assert(d1.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 32L), (3L, 72L, 28L)))
    // full coverage: last window reaches the final token
    assert(d1.map(r => r.getLong(2) + r.getLong(3)).max == 100L)
    val d2 = chunks.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getLong(3) == 3L)
  }

  test("pii redaction removes every planted email/url/phone") {
    val red = TextAnalysis.piiRedactQuery(t)
    // each doc gets exactly one email + one url + one phone planted
    assert(red.filter(col("n_redacted") =!= 3).count() == 0)
  }

  test("text_normalize collapses runs of whitespace") {
    val df = Seq((1L, "  A  b\t c \n d  ")).toDF("doc_id", "text")
    val norm = df.select(TextAnalysis.normalizedText(col("text")).as("n")).collect()(0).getString(0)
    assert(norm == "a b\t c \n d" || norm == "a b c d") // \s+ collapse must yield single spaces
    assert(norm == "a b c d")
  }
}

/** The r8 pplBuckets rewrite (broadcast cut points + map-side
  * comparison, no single-partition window) must keep EXACT ntile
  * semantics — pin bit-equality against the window form it replaced.
  */
class PplBucketsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("cut-point bucketing is bit-equal to the global ntile window") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("avg_logprob").desc, col("doc_id"))
    val viaWindow = TextAnalysis.unigramLogProb(t)
      .select(col("doc_id"), col("avg_logprob"),
        ntile(3).over(w).cast("long").as("ppl_bucket"))
      .orderBy("doc_id").collect()
    val viaCuts = TextAnalysis.pplBuckets(t).collect()
    assert(viaCuts.toSeq == viaWindow.toSeq)
  }

  test("buckets are balanced within one row (ntile contract)") {
    val sizes = TextAnalysis.pplBuckets(t).groupBy("ppl_bucket").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set(1L, 2L, 3L))
    assert(sizes.values.max - sizes.values.min <= 1)
  }

  test("no single-partition window in the plan") {
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = TextAnalysis.pplBuckets(t).queryExecution.executedPlan.collect {
      case x: WindowExec => x
    }
    assert(wins.isEmpty, "pplBuckets must not plan any WindowExec at all")
  }

  test("degenerate corpora: 1, 2 and 3 docs still follow ntile semantics") {
    // cut ranks must stay in-bounds when n < buckets: ntile(3) over n
    // rows yields buckets 1..min(n,3), one row each
    val spark2 = spark
    import spark2.implicits._
    def bucketsFor(n: Int): Seq[(Long, Long)] = {
      val dir = TestSpark.tempDir(s"ppl$n").toString
      Seq.tabulate(n)(i => (i.toLong, s"word$i common tail"))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$dir/documents.parquet")
      TextAnalysis.pplBuckets(Tables(spark2, dir)).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
    }
    assert(bucketsFor(1).map(_._2) == Seq(1L))
    assert(bucketsFor(2).map(_._2).sorted == Seq(1L, 2L))
    assert(bucketsFor(3).map(_._2).sorted == Seq(1L, 2L, 3L))
  }

  test("curateFromArtifact == curate: the persisted-artifact production path is bit-identical") {
    val t = Tables(spark, TestSpark.sf)
    val dir = TestSpark.tempDir("curateart").toString
    Curate.writeAnnotateArtifact(t.documents, dir)
    val composed = Curate.curate(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
    val fromArt = Curate.curateFromArtifact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
    assert(fromArt == composed,
      s"artifact path diverged: only-art=${fromArt.toSet -- composed.toSet} only-composed=${composed.toSet -- fromArt.toSet}")
    // a re-curate at a different threshold works off the same artifact
    // (no re-annotate) and is a superset under a looser gate
    val loose = Curate.curateFromArtifact(spark, dir, minQuality = 0.3).collect()
      .map(_.getLong(0)).toSet
    assert(composed.map(_._1).toSet.subsetOf(loose))
  }

  test("curate span-cut: shared boilerplate is cut before quality; spans computed among survivors") {
    val spark2 = spark
    import spark2.implicits._
    // stop-heavy unique bodies (quality stays over the gate after the
    // cut) + one shared 12-word boilerplate tail; docs 3/4 are exact
    // duplicates of each other and share no text with 1/2. Bodies stay
    // UNDER 100 tokens so the length term doesn't saturate quality at
    // 1.0, and END in a seed-bearing token so every window straddling
    // the body|boiler boundary is doc-unique — the flagged span is then
    // exactly the boilerplate.
    def body(seed: String): String =
      (1 to 8).map(i => s"the $seed$i is a word and it was here so").mkString(" ") +
        s" ${seed}end"
    val boiler = "subscribe to our newsletter for all the latest updates every single day"
    val d1 = body("alpha") + " " + boiler
    val d2 = body("omega") + " " + boiler
    val d3 = body("kappa")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d3))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = TestSpark.tempDir("curatecut").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = Curate.curate(Tables(spark2, dir)).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    // doc 4 fell to exact dedup; 1, 2, 3 survive
    assert(out.keySet == Set(1L, 2L, 3L), s"got ${out.keySet}")
    def qualityOf(text: String): Double =
      Seq(text).toDF("t")
        .select(TextAnalysis.qualityCol(TextAnalysis.normalizedText(col("t"))))
        .head.getDouble(0)
    // docs 1/2: the boilerplate tail was duplicated across survivors →
    // cut → quality is that of the unique body alone
    assert(out(1L) == qualityOf(body("alpha")), s"doc1 ${out(1L)}")
    assert(out(2L) == qualityOf(body("omega")), s"doc2 ${out(2L)}")
    assert(out(1L) != qualityOf(d1), "cut changed nothing for doc1")
    // doc 3: its only duplicate (doc 4) lost doc-level dedup first, so
    // among SURVIVORS nothing repeats — doc 3 keeps its full text
    assert(out(3L) == qualityOf(d3), s"doc3 ${out(3L)}")
  }

  test("curate span-cut: a pure-boilerplate patchwork doc is dropped outright") {
    val spark2 = spark
    import spark2.implicits._
    // doc 3 is NOTHING BUT two 25-word boilerplates, each shared with a
    // different large doc (so no LSH near-dup pair fires — jaccard with
    // either partner is tiny). Its A-windows and B-windows are both
    // flagged; the straddling windows are unique, but the two flagged
    // islands sit exactly k apart, so gaps-and-islands merges them into
    // one span covering every token → size(kept) == 0 → dropped.
    def body(seed: String): String =
      (1 to 60).map(i => s"the $seed$i is a word and it was here so").mkString(" ")
    val boilerA = (1 to 25).map(i => s"adtext$i").mkString(" ")
    val boilerB = (1 to 25).map(i => s"promo$i").mkString(" ")
    val docs = Seq(
      (1L, body("ppp") + " " + boilerA),
      (2L, body("qqq") + " " + boilerB),
      (3L, boilerA + " " + boilerB))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = TestSpark.tempDir("curatecut2").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = Curate.curate(Tables(spark2, dir)).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L), s"got ${out.keySet}")
    // and the big docs were cut back to exactly their unique bodies
    def qualityOf(text: String): Double =
      Seq(text).toDF("t")
        .select(TextAnalysis.qualityCol(TextAnalysis.normalizedText(col("t"))))
        .head.getDouble(0)
    assert(out(1L) == qualityOf(body("ppp")), s"doc1 ${out(1L)}")
  }
}

class UrlCanonicalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def canon(urls: String*): Seq[String] = {
    import org.apache.spark.sql.functions.col
    urls.toDF("u").select(Curate.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
  }

  test("scheme/case/www/port/fragment/trailing-slash variants collapse to one identity") {
    val got = canon(
      "https://example5.com/path/p5",
      "HTTP://EXAMPLE5.COM/path/p5/",
      "https://www.example5.com/path/p5?utm_source=feed",
      "http://example5.com:80/path/p5#frag",
      "https://example5.com:443/path/p5//")
    assert(got.toSet == Set("example5.com/path/p5"), got.toString)
  }

  test("real query params survive, tracking params vanish — wherever they sit") {
    assert(canon("https://a.com/x?id=1&utm_campaign=z") == Seq("a.com/x?id=1"))
    // tracking param FIRST: the '&' must be promoted back to '?'
    assert(canon("https://a.com/x?utm_a=1&id=2") == Seq("a.com/x?id=2"))
    // tracking param FIRST with >=2 survivors: promote the FIRST '&'
    // (a greedy match would promote the last → 'a.com/x&id=2?b=3')
    assert(canon("https://a.com/x?utm_a=1&id=2&b=3") == Seq("a.com/x?id=2&b=3"))
    // consecutive tracking params all go
    assert(canon("https://a.com/x?utm_a=1&utm_b=2&gclid=3") == Seq("a.com/x"))
    // 'href' must NOT match the 'ref' tracking key
    assert(canon("https://a.com/x?href=keep") == Seq("a.com/x?href=keep"))
  }

  test("only DEFAULT ports are stripped — :8080/:4430 and bare-host :80 handled") {
    assert(canon("https://a.com:8080/x") == Seq("a.com:8080/x"))
    assert(canon("https://a.com:4430/x") == Seq("a.com:4430/x"))
    assert(canon("http://a.com:80") == Seq("a.com"))
    assert(canon("https://a.com:443") == Seq("a.com"))
    // default port directly before the query string
    assert(canon("http://a.com:80?id=1") == Seq("a.com?id=1"))
  }

  test("gated query collapses the planted variant groups") {
    val t = Tables(spark, TestSpark.sf)
    val out = Curate.urlCanonicalize(t).collect()
    // groups with n_variants >= 2 exist (the dedup signal), and total
    // variant count conserves the corpus
    assert(out.exists(_.getLong(1) >= 2))
    assert(out.map(_.getLong(1)).sum == t.documents.count())
  }
}

/** Round-8 pipeline staples: vocabulary induction, time-series
  * gap-fill, column profiling. Each property here is one the hash
  * gate can't localize (contiguity, density, one-pass equivalence).
  */
class VocabGapfillProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("vocab_build: token ids are contiguous from 1 and ordered by (freq desc, word)") {
    val v = TextAnalysis.vocabBuild(t).collect()
    assert(v.nonEmpty)
    assert(v.map(_.getLong(2)).toSeq == (1L to v.length.toLong))
    val pairs = v.map(r => (r.getLong(1), r.getString(0)))
    pairs.sliding(2).foreach { case Array((f1, w1), (f2, w2)) =>
      assert(f1 > f2 || (f1 == f2 && w1 < w2),
        s"order violated at ($f1,$w1) -> ($f2,$w2)")
    case _ => ()
    }
    assert(pairs.forall(_._1 >= 2L), "minCount floor violated")
  }

  test("gapfill: grid is dense (types × hours), conserves the event count, zeros are real gaps") {
    val g = graft.operators.Events.gapfill(t)
    val nTypes = t.events.select("event_type").distinct().count()
    val span = t.events.agg(
      (floor(unix_timestamp(max(col("ts"))) / 3600) -
        floor(unix_timestamp(min(col("ts"))) / 3600) + 1).as("h")).head.getLong(0)
    assert(g.count() == nTypes * span)
    assert(g.agg(sum("n_events")).head.getLong(0) == t.events.count())
    // every (type, hour) with a zero really has no events
    val zeros = g.filter(col("n_events") === 0)
    val joined = zeros.join(
      t.events.select(date_trunc("hour", col("ts")).as("hour"), col("event_type")),
      Seq("event_type", "hour"))
    assert(joined.count() == 0)
  }

  test("anomalies: flagged set equals an independent 3-sigma recomputation over the dense grid") {
    val flagged = graft.operators.Events.anomalies(t).collect()
    // >=, not >: a true |z| in (3.0, 3.00005) passes the filter but
    // ROUNDS to exactly 3.0 in the displayed 4dp zscore
    assert(flagged.forall(r => math.abs(r.getDouble(3)) >= 3.0))
    // independent recomputation: collect the dense series, flag in Scala
    val dense = graft.operators.Events.gapfill(t).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val byType = dense.groupBy(_._2)
    val expect = byType.values.flatMap { rows =>
      val xs = rows.map(_._3.toDouble)
      val mu = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1))
      rows.filter(r => math.abs(r._3 - mu) > 3.0 * sd)
    }.map(r => (r._1, r._2)).toSet
    assert(flagged.map(r => (r.getTimestamp(0), r.getString(1))).toSet == expect)
  }

  test("profile_columns: long-form rows equal independent per-column aggregates, in one scan") {
    val p = graft.operators.Relational4.profileColumns(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(p.keySet == Set("l_quantity", "l_extendedprice", "l_discount"))
    val direct = t.lineitem.agg(
      round(min("l_discount"), 2), round(max("l_discount"), 2), round(avg("l_discount"), 4)).head
    assert(p("l_discount") == ((0L, direct.getDouble(0), direct.getDouble(1), direct.getDouble(2))))
    // one scan: a single aggregate feeds the stack projection
    val scans = graft.operators.Relational4.profileColumns(t).queryExecution.executedPlan
      .collectLeaves().size
    assert(scans == 1, s"profiler must read the table once, saw $scans scans")
  }

  test("profile_columns counts real nulls (the headline feature, on injected data)") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (2.0, 4.0), (null, null), (3.0, 6.0))
      .toDF("x", "y")
    val p = graft.operators.Relational4.profileColumnsOf(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(p("x") == ((1L, 1.0, 3.0, 2.0)))
    assert(p("y") == ((2L, 4.0, 6.0, 5.0)))
  }

  test("kn bigram: hand-computed planted corpus, discounted + continuation terms exact") {
    // corpus: doc1 "a b a c", doc2 "b a"
    // c12: (a,b):1 (b,a):2 (a,c):1 → left: a:(2,2) b:(2,1);
    // cont: a:1 b:1 c:1; n_types=3; D=0.75
    // P(b|a) = 0.25/2 + 0.75*(2/2)*(1/3) = 0.375 ; P(c|a) = 0.375
    // P(a|b) = 1.25/2 + 0.75*(1/2)*(1/3) = 0.75
    import spark.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramScoreOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val d1 = r6((math.log10(0.375) + math.log10(0.75) + math.log10(0.375)) / 3)
    val d2 = r6(math.log10(0.75))
    assert(got == List((1L, 3L, d1), (2L, 1L, d2)), s"got $got")
  }

  test("kn bigram: per-context probabilities sum to exactly 1 over the vocab") {
    // the KN invariant the discount/continuation split exists to keep:
    // Σ_w2 P_KN(w2|w1) = (c1left − D·n1w1)/c1left + D·n1w1/c1left·Σ P_cont
    // with Σ_w2 P_cont(w2) = 1 by construction. Recompute the stats
    // from a planted corpus and check numerically per context.
    import spark.implicits._
    val docs = Seq((1L, "a b a c b c a"), (2L, "c a b b a"), (3L, "b c a a")).toDF("doc_id", "text")
    import graft.functions.ShinglesExpr
    val c12 = docs
      .select(explode(ShinglesExpr.shingles(col("text"), 2)).as("bg"))
      .filter(col("bg") =!= "")
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
      .groupBy("w1", "w2").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val d = 0.75
    val nTypes = c12.size.toDouble
    val vocab = c12.keysIterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    val cont = vocab.map(w => w -> c12.count(_._1._2 == w) / nTypes).toMap
    for (w1 <- c12.keysIterator.map(_._1).toSet[String]) {
      val c1left = c12.collect { case ((a, _), c) if a == w1 => c }.sum.toDouble
      val n1w1 = c12.count(_._1._1 == w1)
      val total = vocab.toSeq.map { w2 =>
        math.max(c12.getOrElse((w1, w2), 0L).toDouble - d, 0.0) / c1left +
          d * n1w1 / c1left * cont(w2)
      }.sum
      assert(math.abs(total - 1.0) < 1e-12, s"context $w1 sums to $total")
    }
  }

  // ------------------------------------------------ split leakage audit

  test("splitLeakage: a planted cross-split duplicate is detected; clean splits read zero") {
    import spark.implicits._
    // choose ids whose md5 split buckets differ: find a (train, test)
    // pair dynamically so the test doesn't depend on md5 internals
    val probe = (0L until 200L).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$i".getBytes("UTF-8"))
      val bucket = java.lang.Long.parseLong(
        h.take(4).map(b => f"$b%02x").mkString, 16) % 100
      i -> bucket
    }
    val trainId = probe.find(_._2 < 80).get._1
    val testId = probe.find(_._2 >= 90).get._1
    val valId = probe.find(p => p._2 >= 80 && p._2 < 90).get._1
    val docs = Seq(
      (trainId, "the exact same text"),
      (testId, "THE  exact   same TEXT"), // normalizes to the same fp
      (valId, "completely different content")).toDF("doc_id", "text")
    val rows = graft.operators.Curate.splitLeakageOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows("test") == ((1L, 1L))) // the planted leak
    assert(rows("val") == ((1L, 0L))) // clean
  }

  test("tokenizerFertility: hand-computed ratios; punctuation fragments raise fertility") {
    import spark.implicits._
    // "ab cd" → ws 2, bpe 2 (two letter runs), chars 5 → fertility 1.0
    // "a.b c!" → ws 2, bpe tokens: a . b c ! = 5 → fertility 2.5
    val docs = Seq(
      (1L, "ab cd", "s1", 5L),
      (2L, "a.b c!", "s2", 6L)).toDF("doc_id", "text", "source", "n_chars")
    val rows = graft.operators.CorpusScience.tokenizerFertilityOf(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(rows("s1") == ((2L, 2L, 1.0, 2.5)))
    assert(rows("s2") == ((2L, 5L, 2.5, 1.2)))
  }

  test("datasetCard: duplicate and short-doc rates from a planted corpus (hand-computed)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "web", "en", 35L),
      (2L, "ALPHA beta   gamma delta epsilon zeta", "web", "en", 37L), // dup of 1 (normalized)
      (3L, "tiny doc", "books", "fr", 8L),                             // short (< 5 tokens)
      (4L, "one two three four five six seven", "web", "en", 33L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
    val r = graft.operators.Curate.datasetCardOf(docs).collect().head
    assert(r.getLong(r.fieldIndex("n_docs")) == 4L)
    assert(r.getLong(r.fieldIndex("n_sources")) == 2L)
    assert(r.getLong(r.fieldIndex("n_langs")) == 2L)
    assert(r.getDouble(r.fieldIndex("exact_dup_rate")) == 0.25) // 4 docs, 3 distinct fps
    assert(r.getDouble(r.fieldIndex("short_doc_share")) == 0.25)
    // token counts: 6, 6, 2, 7 → median = (6+6)/2 = 6
    assert(r.getDouble(r.fieldIndex("median_doc_tokens")) == 6.0)
  }

  test("langIdConfusion: planted stopword docs produce the expected matrix cells") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat of the house", "en"),   // en stop hits → predicted en
      (2L, "le chat de la maison", "fr"),   // fr stop hits → predicted fr
      (3L, "xyzzy qwerty plugh", "fr"))     // no hits → tie → predicted en
      .toDF("doc_id", "text", "lang")
    val got = graft.operators.TextAnalysis.langIdConfusionOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("en", "en")) == ((1L, 1.0)))
    assert(got(("fr", "fr")) == ((1L, 0.5)))
    assert(got(("fr", "en")) == ((1L, 0.5))) // the abstention-to-en error cell
  }

  test("passRatesBySource: rates divide exact per-source counts and both <= each") {
    val t = graft.sources.Tables(spark, "/root/testdata/sf0.001")
    val rows = graft.operators.QualityRules.passRatesBySourceOf(t.documents).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_docs"))
      val g = r.getLong(r.fieldIndex("n_gopher_pass"))
      val c = r.getLong(r.fieldIndex("n_c4_keep"))
      val b = r.getLong(r.fieldIndex("n_both"))
      assert(b <= math.min(g, c))
      assert(r.getDouble(r.fieldIndex("gopher_rate")) == g.toDouble / n)
      assert(r.getDouble(r.fieldIndex("both_rate")) == b.toDouble / n)
    }
  }
}
