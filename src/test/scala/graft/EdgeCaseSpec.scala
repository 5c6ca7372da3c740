package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, WordPipeline}
import TestSpark.{anyFile, withCheckpointDir}

/** The testdata corpus is clean; these cover what it can't — empty and
  * whitespace-only docs, duplicates, short docs — through the
  * DataFrame-general operator variants a library user calls.
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "Hello  world  hello"),
    (1L, ""),
    (2L, "   "),
    (3L, "one"),
    (4L, "Hello  world  hello"),
    (5L, "a b c a b c")).toDF("doc_id", "text")

  test("tokensOf handles empty and whitespace-only docs") {
    val toks = WordPipeline.tokensOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(!toks.exists(t => t._1 == 1L || t._1 == 2L))
    assert(toks.count(_._1 == 0L) == 3)
    assert(toks.filter(_._1 == 0L).map(_._2).toSet == Set("hello", "world"))
  }

  test("exactOf groups duplicate texts and keeps min id") {
    val d = Dedup.exactOf(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(d(0L) == 2L) // docs 0 and 4 identical
    assert(d(1L) == 1L)
  }

  test("shinglesOf yields nothing for docs shorter than n") {
    val sh = Dedup.shinglesOf(docs, 3).collect().map(_.getLong(0)).toSet
    assert(!sh.contains(1L) && !sh.contains(2L) && !sh.contains(3L))
    assert(sh.contains(0L) && sh.contains(5L))
  }

  test("nearDupClusters produces transitive components with min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("nearDupClusters on real jaccard pairs keeps pair endpoints together") {
    val t = graft.sources.Tables(spark, TestSpark.sf)
    val pairs = Dedup.ngramJaccardPairs(t, 3, 0.6).select("doc_a", "doc_b")
    val labels = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)))
    }
  }

  test("nearDupClusters bounds lineage via periodic localCheckpoint") {
    // A 13-node path graph needs ~12 min-label rounds — enough to cross
    // two checkpoint boundaries (every 5). The logical plan doubles per
    // iteration (cache only short-circuits physical execution), so
    // without the checkpoints the result would drag a 2^13-node join
    // chain; with them it restarts from a LogicalRDD leaf and only the
    // last ≤5 rounds remain above it.
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.nearDupClusters(pairs, maxIter = 20)
    assert(labels.collect().forall(_.getLong(1) == 0L), "path collapses to label 0")
    val nNodes = labels.queryExecution.analyzed.collectLeaves().size
    assert(nNodes < 200, s"lineage not truncated by localCheckpoint: $nNodes plan leaves")
  }

  test("nearDupClusters takes the RELIABLE checkpoint path when a dir is configured") {
    withCheckpointDir("graft-ckpt") { dir =>
      val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val labels = Dedup.nearDupClusters(pairs, maxIter = 20)
      assert(labels.collect().forall(_.getLong(1) == 0L))
      // reliable checkpoint files must actually exist under the dir
      assert(anyFile(dir), "no reliable checkpoint written")
    }
  }

  test("fuzzyPairs finds near-identical names within blocks only") {
    val names = Seq(
      (1L, "small ring"), (2L, "small king"), (3L, "small ring"),
      (4L, "blue bolt"), (5L, "blue bolts"), (6L, "red widget")).toDF("id", "name")
    val pairs = Dedup.fuzzyPairs(names, "id", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (4L, 5L)))
    // exact matches (1,3) and cross-block pairs are excluded
  }

  test("incrementalExact keeps only genuinely-new unique docs") {
    import graft.operators.TextAnalysis
    val known = Seq("Hello  world  hello").toDF("text")
      .select(md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
    val out = Dedup.incrementalExact(docs, known).collect().map(_.getLong(0)).toSet
    // 0 and 4 match the known corpus; 1 vs 2 are batch-dups (both
    // normalize to ""), min id 1 survives; 3 and 5 are new
    assert(out == Set(1L, 3L, 5L))
  }

  test("repeatedChunksOf skips short/empty docs and finds cross-doc spans") {
    val out = Dedup.repeatedChunksOf(docs, k = 3).collect()
    // only docs 0 and 4 share a full 3-word chunk ("hello world hello");
    // empty/whitespace/short docs produce no chunks at all; doc 5's
    // repeated "a b c" chunks live in ONE doc -> not cross-doc boilerplate
    assert(out.length == 1)
    assert(out.head.getLong(1) == 2L, "n_docs")      // docs 0 and 4
    assert(out.head.getLong(3) == 0L, "first_doc")
  }

  test("substringSpansOf coalesces overlapping and abutting windows, ignores within-doc repeats") {
    val corpus = Seq(
      (0L, "a1 a2 a3 a4 a5 z1 z2 z3 b1 b2 b3 b4 b5"),
      (1L, "a1 a2 a3 a4 a5 y1 y2 y3 b1 b2 b3 b4 b5"),
      (2L, "c1 c2 c3 c4 c5 c6"),
      (3L, "c1 c2 c3 c4 c5 c6"),
      (4L, "short"),
      (5L, "p q r p q r p q r")).toDF("doc_id", "text")
    val spans = Dedup.substringSpansOf(corpus, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // docs 0/1 share two runs split by unshared middles -> two maximal
    // spans each; docs 2/3 are identical -> one full-width span; doc 4
    // is sub-k; doc 5's repeats live in ONE doc -> never flagged
    assert(spans.toSet == Set(
      (0L, 0L, 4L, 3L), (0L, 8L, 12L, 3L),
      (1L, 0L, 4L, 3L), (1L, 8L, 12L, 3L),
      (2L, 0L, 5L, 4L), (3L, 0L, 5L, 4L)))
  }

  test("shinglesOf distinct matches per-doc distinct semantics") {
    // doc 5: "a b c a b c" → windows [a b c, b c a, c a b, a b c] → 3 distinct
    val n = Dedup.shinglesOf(docs, 3).filter(col("doc_id") === 5L).count()
    assert(n == 3)
  }

  test("withinDocDedupOf cuts exactly the repeat spans and fingerprints the rewrite") {
    val corpus = Seq(
      // one repeat of the opening 3-gram: windows j=3 ("a b c") dups
      // j=0 -> marked {3,4,5}, one span, kept "a b c d"
      (0L, "a b c a b c d"),
      // overlapping dup windows j=2,j=3 -> marked {2,3,4,5}, ONE span,
      // kept "x y"
      (1L, "x y x y x y"),
      // two separated repeats of "p q r" -> TWO spans {4..6} {8..10},
      // kept "p q r s t"
      (2L, "p q r s p q r t p q r"),
      // no within-doc repeat -> absent from output
      (3L, "m n o m n p"),
      // case/whitespace-normalized before hashing: same as doc 0
      (4L, "A b  C a B c D"),
      (5L, "xs")).toDF("doc_id", "text")
    val md5of = (s: String) =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val out = Dedup.withinDocDedupOf(corpus, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 4L))
    assert(out(0L) == ((3L, 1L, 4L, md5of("a b c d"))))
    assert(out(1L) == ((4L, 1L, 2L, md5of("x y"))))
    assert(out(2L) == ((6L, 2L, 5L, md5of("p q r s t"))))
    assert(out(4L) == out(0L))
  }

  test("withinDocDedupOf rewrite conserves tokens: kept + cut == doc length") {
    val t = graft.sources.Tables(spark, TestSpark.sf)
    val n = Dedup.withinDocDedup(t, k = 3)
      .withColumn("total", col("kept_tokens") + col("cut_tokens"))
      .join(t.documents.select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_tok")), Seq("doc_id"))
      .filter(col("total") =!= col("n_tok")).count()
    assert(n == 0, "kept + cut must equal the tokenized doc length for every rewritten doc")
  }

  test("vocabBuildOf: floor above every freq yields empty, not a crash; ties break word-asc") {
    assert(graft.operators.TextAnalysis.vocabBuildOf(docs, minCount = 100L).count() == 0)
    // hello/world and a/b/c tie within their freq classes → word order
    val v = graft.operators.TextAnalysis.vocabBuildOf(docs, minCount = 2L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.map(_._3).toSeq == (1L to v.length.toLong))
    // the REAL tie class in this fixture is freq=2 (world, a, b, c):
    // their ids must be consecutive and in word-asc order
    val tied = v.filter(_._2 == 2L)
    assert(tied.length >= 2, "fixture must contain a multi-word tie class")
    assert(tied.map(_._1).sameElements(tied.map(_._1).sorted),
      "tied freqs must order by word asc")
    assert(tied.map(_._3).toSeq == (tied.head._3 until tied.head._3 + tied.length),
      "a tie class must occupy consecutive ids")
  }

  test("attributionOf: first/last touch per purchase; untouched purchases are direct") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: view -> click -> purchase(10) -> purchase(2)
      (1L, 1L, "view", ts("2024-01-01 10:00:00"), 0.0),
      (2L, 1L, "click", ts("2024-01-01 10:05:00"), 0.0),
      (3L, 1L, "purchase", ts("2024-01-01 10:10:00"), 10.0),
      (4L, 1L, "purchase", ts("2024-01-01 10:20:00"), 2.0),
      // user 2: cold purchase, nothing before it
      (5L, 2L, "purchase", ts("2024-01-01 11:00:00"), 5.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = graft.operators.Events.attributionOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // both of user 1's purchases credit first=view; last stays click
    // (the intervening purchase is not a touch); user 2 is direct twice
    assert(got == Set(
      ("view", "first", 2L, 12.0), ("direct", "first", 1L, 5.0),
      ("click", "last", 2L, 12.0), ("direct", "last", 1L, 5.0)))
  }

  test("pageRankOf: two-node chain matches the hand-computed fixed sweeps") {
    import spark.implicits._
    val edges = Seq((2L, 3L, 1.0)).toDF("src", "dst", "w")
    val nodes = Seq(2L, 3L).toDF("node")
    val got = graft.operators.Graph.pageRankOf(edges, nodes).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // N=2, d=0.85: src never receives mass -> teleport floor 0.075;
    // sink at sweep 3 = 0.075 + 0.85 * 0.075 = 0.13875
    assert(got(2L) == 0.075)
    assert(got(3L) == 0.13875)
  }

  test("pageRankOf: iters=12 crosses the lineage cut and matches the recurrence") {
    import spark.implicits._
    // star: hub 0 -> leaves 1,2 (weights 1,3); leaf 1 -> leaf 2.
    val edges = Seq((0L, 1L, 1.0), (0L, 2L, 3.0), (1L, 2L, 1.0)).toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    val iters = 12 // two lineage cuts (i=5,10) inside the loop
    def ranks(): Map[Long, Double] =
      graft.operators.Graph.pageRankOf(edges, nodes, iters = iters).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // the same recurrence run directly: contrib(dst) = sum over in-edges
    // of rank(src) * w / wout(src); rank = (1-d)/n + d*contrib
    val (d, n) = (0.85, 3.0)
    var rank = Map(0L -> 1 / n, 1L -> 1 / n, 2L -> 1 / n)
    for (_ <- 1 to iters) {
      val c1 = rank(0L) * 1.0 / 4.0
      val c2 = rank(0L) * 3.0 / 4.0 + rank(1L) * 1.0
      rank = Map(
        0L -> (1 - d) / n,
        1L -> ((1 - d) / n + d * c1),
        2L -> ((1 - d) / n + d * c2))
    }
    def check(cut: String, got: Map[Long, Double]): Unit =
      rank.foreach { case (node, want) =>
        assert(got(node) == math.rint(want * 1e6) / 1e6,
          s"$cut cuts, node $node: got ${got(node)} want $want")
      }
    // no checkpoint dir: the cuts are localCheckpoints
    check("local", ranks())
    // with a checkpoint dir: the persist → checkpoint → unpersist branch
    withCheckpointDir("graft-pagerank-ckpt") { dir =>
      check("reliable", ranks())
      assert(anyFile(dir), "no reliable checkpoint written")
    }
  }

  test("pageRankConverged: stops before maxIters and equals the fixed form at the stop count") {
    import spark.implicits._
    // star + chain; d=0.5 halves the delta per sweep, so 1e-5 converges
    // in ~15 sweeps — well inside maxIters=40, crossing the lineage cut
    val edges = Seq((0L, 1L, 1.0), (0L, 2L, 3.0), (1L, 2L, 1.0), (2L, 0L, 2.0))
      .toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    val (conv, sweeps) = graft.operators.Graph.pageRankConvergedWithSweeps(
      edges, nodes, maxIters = 40, d = 0.5, tol = 1e-5)
    assert(sweeps < 40, s"tolerance stop never fired: $sweeps sweeps")
    assert(sweeps > 5, s"suspiciously fast convergence: $sweeps sweeps")
    val got = conv.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    // the contract: stopping after k sweeps IS the fixed-sweep result
    // at k — same per-sweep plan, same arithmetic, same rounding
    val fixedAtStop = graft.operators.Graph.pageRankOf(edges, nodes, iters = sweeps, d = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got == fixedAtStop, s"converged $got != fixed-at-$sweeps $fixedAtStop")
    // and the delta really is below tol: one more fixed sweep moves
    // every 6dp-rounded rank by at most 1 ulp of the rounding grid
    val oneMore = graft.operators.Graph.pageRankOf(edges, nodes, iters = sweeps + 1, d = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.foreach { case (n, r) =>
      assert(math.abs(oneMore(n) - r) <= 1e-5 + 1e-6, s"node $n moved ${math.abs(oneMore(n) - r)}")
    }
    // the reliable cuts (checkpoint dir set) change nothing
    withCheckpointDir("graft-pagerank-conv-ckpt") { dir =>
      val (conv2, sweeps2) = graft.operators.Graph.pageRankConvergedWithSweeps(
        edges, nodes, maxIters = 40, d = 0.5, tol = 1e-5)
      assert(sweeps2 == sweeps)
      assert(conv2.collect().map(r => (r.getLong(0), r.getDouble(1))).toList == got)
      assert(anyFile(dir), "no reliable checkpoint written")
    }
  }

  test("anomaliesOf: one-hour-per-type input (stddev undefined) flags nothing") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "click", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, 11L, "click", java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 1.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    assert(graft.operators.Events.anomaliesOf(ev).count() == 0)
  }

  test("gapfillOf: single-hour span yields exactly one row per type, no zeros") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "click", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, 11L, "view", java.sql.Timestamp.valueOf("2024-01-01 10:59:00"), 1.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val g = graft.operators.Events.gapfillOf(ev).collect()
    // dense across types: both types present for the single hour,
    // each with EXACTLY its own event — no zeros, no double-bucketing
    assert(g.length == 2)
    assert(g.map(_.getString(1)).toSet == Set("click", "view"))
    assert(g.forall(_.getLong(2) == 1L))
  }

  // ---- ANSI /0 hardening: degenerate inputs must degrade, not throw

  test("gopher/c4 rules score empty and whitespace-only docs as failures") {
    import spark.implicits._
    val g = graft.operators.QualityRules.gopherRulesOf(docs, minWords = 1)
      .select("doc_id", "gopher_pass").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(g(1L) == 0 && g(2L) == 0) // empty / whitespace fail, no crash
    val c = graft.operators.QualityRules.c4RulesOf(docs)
      .select("doc_id", "c4_keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(c(1L) == 0 && c(2L) == 0)
  }

  test("qualityScore handles the empty doc without an ANSI division error") {
    val q = graft.operators.TextAnalysis.qualityScore(
      graft.sources.Tables(spark, TestSpark.sf)) // smoke: plain corpus path
    assert(q.count() > 0)
    import spark.implicits._
    val empty = graft.operators.QualityRules.gopherRulesOf(docs).count() // shares words()
    assert(empty == 6)
    val scored = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.qualityCol(col("text")).as("q")).collect()
    assert(scored.length == 6) // includes doc 1 ("") and doc 2 ("   ")
  }

  test("trend/zipf/heaps fits read NULL on degenerate (single-point) input") {
    import spark.implicits._
    val oneYear = Seq(("A", "2024-01-01", 10.0), ("A", "2024-06-01", 20.0))
      .toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val tr = graft.operators.Analytics2.trendOf(oneYear).collect().head
    assert(tr.isNullAt(tr.fieldIndex("slope_per_year")))
    val oneWord = Seq((1L, "solo"), (2L, "solo")).toDF("doc_id", "word")
    val zf = graft.operators.Analytics2.zipfFitOf(oneWord).collect().head
    assert(zf.isNullAt(zf.fieldIndex("zipf_slope")))
    val hl = graft.operators.CorpusScience.heapsLawOf(oneWord, buckets = 1).collect().head
    assert(hl.isNullAt(hl.fieldIndex("heaps_beta")))
  }

  test("ab test: saturated conversion yields NULL z, not a division error") {
    import spark.implicits._
    val ev = Seq((0L, "view", 0.0), (0L, "purchase", 99.0),
      (1L, "view", 0.0), (1L, "purchase", 99.0))
      .toDF("user_id", "event_type", "value")
    val r = graft.operators.Analytics2.abTestOf(ev, minValue = 90.0).collect().head
    assert(r.isNullAt(r.fieldIndex("z_score"))) // p̂ = 1 → no test statistic
    val empty = graft.operators.Analytics2.abTestOf(
      ev.filter(col("user_id") === 0L), minValue = 90.0).collect().head
    assert(empty.isNullAt(empty.fieldIndex("rate1"))) // variant 1 empty
  }

  test("weighted sample drops non-positive weights; centroids tolerate a zero vector") {
    import spark.implicits._
    val d = Seq((1L, "x", 0L), (2L, "y", 10L), (3L, "z", -5L))
      .toDF("doc_id", "text", "n_chars")
    val picked = graft.operators.Analytics2.weightedSampleOf(d, k = 5)
      .select("doc_id").as[Long].collect().toList
    assert(picked == List(2L))
    val emb = Seq((1L, Array(0.0f, 0.0f), 7)).toDF("vec_id", "embedding", "label")
    val c = graft.operators.Similarity.centroidsOf(emb).collect().head
    assert(c.isNullAt(c.fieldIndex("concentration")))
  }

  test("statistics tranche degrades on degenerate input: no ANSI errors, no crashes") {
    import graft.operators.{Analytics3, CorpusScience, Events}
    val noOrders = Seq.empty[Double].toDF("o_totalprice")
    // empty input: the dense 1-9 grid still materializes; rates NULL
    // (0/NULL total), never an ANSI /0 error
    val b = Analytics3.benfordOf(noOrders).collect()
    assert(b.length == 9 && b.forall(r => r.getLong(1) == 0L && r.isNullAt(2)))
    // a refund (negative amount) must count by magnitude, not throw on
    // the ANSI cast of "-" — the fraud screen runs on live payment
    // streams where refunds are routine
    val withRefund = Seq(100.0, -42.50, 955.0).toDF("o_totalprice")
    val rb = Analytics3.benfordOf(withRefund).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rb(1L) == 1L && rb(4L) == 1L && rb(9L) == 1L)
    val gate = graft.streaming.Streams.benfordGateBatch(spark, withRefund).collect().head
    assert(gate.n == 3L)
    // empty events: dof must be NULL, not (-1)*(-1) = 1
    val chiEmpty = Analytics3.chiSquareOf(
      Seq.empty[(String, java.sql.Timestamp)].toDF("event_type", "ts")).collect().head
    assert(chiEmpty.isNullAt(chiEmpty.fieldIndex("dof")))
    // single event type: dof 0 and χ² exactly 0 (rank-1 by construction)
    val oneType = Seq.fill(10)(("x", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_type", "ts")
    val chi = Analytics3.chiSquareOf(oneType).collect().head
    assert(chi.getLong(3) == 0L && chi.getDouble(4) == 0.0)
    // empty events: autocorr/gini/psi/ks produce empty or NULL rows, no throw
    val noEvents = Seq.empty[(java.sql.Timestamp, String, Long)]
      .toDF("ts", "event_type", "user_id")
    assert(Analytics3.autocorrOf(noEvents).collect().isEmpty)
    val g = Analytics3.giniOf(noEvents).collect().head
    assert(g.isNullAt(g.fieldIndex("gini")))
    val noDocs = Seq.empty[(String, Int)].toDF("source", "n_chars")
    assert(Analytics3.psiDriftOf(noDocs).collect().isEmpty)
    assert(Analytics3.ksDriftOf(noDocs).collect().isEmpty)
    // single event: a one-cell cohort matrix at rate 1.0
    val one = Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00")))
      .toDF("user_id", "ts")
    val cm = Events.cohortMatrixOf(one).collect()
    assert(cm.length == 1 && cm.head.getDouble(4) == 1.0)
    // one-word docs: no skip-gram pairs, empty sampling table — not a crash
    val shorts = Seq((0L, "one"), (1L, "")).toDF("doc_id", "text")
    assert(CorpusScience.skipgramsOf(shorts).collect().isEmpty)
    assert(CorpusScience.negSamplingOf(
      Seq.empty[(Long, String)].toDF("doc_id", "word")).collect().isEmpty)
  }

  test("kCoreOf: clique survives, pendant chain peels away in cascade") {
    import spark.implicits._
    // 4-clique on {0,2,4,6} (even=one side is irrelevant to kCoreOf
    // itself) plus a chain 6-8-10: for k=3 the chain must cascade off
    // (10 has deg 1, then 8 drops to 1, ...) leaving exactly the clique
    // with in-core degree 3.
    val clique = for (a <- Seq(0L, 2L, 4L, 6L); b <- Seq(0L, 2L, 4L, 6L) if a < b) yield (a, b)
    val edges = (clique ++ Seq((6L, 8L), (8L, 10L))).toDF("a", "b")
    def core() = graft.operators.Graph.kCoreOf(edges, k = 3).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("degree"))).toMap
    val got = core()
    assert(got == Map(0L -> 3L, 2L -> 3L, 4L -> 3L, 6L -> 3L), s"got $got")
    // kCoreOf's one-shot edge cut follows the same policy as the loops:
    // reliable once a checkpoint dir is set
    withCheckpointDir("graft-kcore-ckpt") { dir =>
      assert(core() == got)
      assert(anyFile(dir), "no reliable checkpoint written")
    }
  }

  test("kCoreOf: fixpoint is maximal — every survivor has >= k in-core neighbors, no removed node does") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L), (1L, 3L))
      .toDF("a", "b")
    val k = 2
    val survivors = graft.operators.Graph.kCoreOf(edges, k).collect()
      .map(_.getAs[Long]("node")).toSet
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L), (1L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val degIn = (s: Set[Long], n: Long) => und.count { case (a, b) => a == n && s(b) && s(a) }
    survivors.foreach(n => assert(degIn(survivors, n) >= k, s"survivor $n under-connected"))
    // maximality: re-adding any peeled node leaves it under-connected
    val all = und.map(_._1).toSet
    (all -- survivors).foreach { n =>
      assert(degIn(survivors + n, n) < k, s"peeled node $n would fit the core")
    }
    // node 4 (degree 1) must be peeled, and its removal must NOT
    // cascade (3 keeps degree 3 via 0,1,2)
    assert(survivors == Set(0L, 1L, 2L, 3L), s"got $survivors")
  }

  test("kCoreOf: extra no-op rounds past the fixpoint do not change the result") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val a = graft.operators.Graph.kCoreOf(edges, k = 2, iters = 3).collect().map(_.toSeq).toList
    val b = graft.operators.Graph.kCoreOf(edges, k = 2, iters = 12).collect().map(_.toSeq).toList
    assert(a == b)
  }
}
