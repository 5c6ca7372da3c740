package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.{Tables, TextFiles}

class ArabicSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("arabic tokenizer extracts only arabic letter runs") {
    val df = Seq("النَّصُّ العربي جميل 123 hello world").toDF("content")
    val toks = df.select(explode(TextFunctions.arabicTokens(col("content"))).as("w"))
      .as[String].collect().toSeq
    assert(toks == Seq("النَّصُّ", "العربي", "جميل"))
  }

  test("removeDiacritics strips the eight tashkeel marks") {
    val df  = Seq("السَّلامُ عَلَيْكُمْ").toDF("t")
    val out = df.select(TextFunctions.removeDiacritics(col("t"))).as[String].head()
    assert(out == "السلام عليكم")
  }

  test("corpus token counts are non-empty and diacritic-free") {
    val rows = ArabicCorpus.tokenCounts(spark, ArabicCorpus.SampleDir, 20).collect()
    assert(rows.length == 20)
    val words = rows.map(_.getString(0))
    assert(words.forall(w => !TextFunctions.ArabicDiacritics.exists(w.contains(_))))
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("flagship word stats over file corpus has reference row shape") {
    val df = ArabicCorpus.wordStats(spark, ArabicFixture.dir)
    assert(df.columns.toSeq ==
      Seq("word", "word_len", "word_truncated", "file_path", "words_count"))
    assert(df.count() > 0)
  }
}

class TextFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = ArabicCorpus.SampleDir

  test("listFiles finds txt files without reading bodies") {
    val files = TextFiles.listFiles(spark, "*.txt", dir)
    assert(files.count() >= 29) // arabic.txt + books/ + one_book/
    assert(files.columns.toSeq == Seq("path", "length", "modification_time"))
  }

  test("listFiles accepts multiple roots (FoldersFilesListExtractor analog)") {
    val one  = TextFiles.listFiles(spark, "*.txt", s"$dir/books").count()
    val two  = TextFiles.listFiles(spark, "*.txt", s"$dir/books", s"$dir/one_book").count()
    assert(two == one + 1)
  }

  test("noop sink materializes the plan and reports the count") {
    val df = TextFiles.listFiles(spark, "*.txt", s"$dir/one_book")
    assert(graft.sinks.Sinks.noop(df) == 1L)
  }

  test("lines yields non-blank trimmed lines with provenance") {
    val df = TextFiles.lines(spark, "*.txt", s"$dir/one_book")
    assert(df.filter(col("line") === "").count() == 0)
    assert(df.count() > 100)
  }

  test("wholeText yields one row per file") {
    val n = TextFiles.listFiles(spark, "*.txt", dir).count()
    assert(TextFiles.wholeText(spark, "*.txt", dir).count() == n)
  }

  test("path provenance splits directory levels into columns") {
    val df = TextFiles.withPathProvenance(TextFiles.wholeText(spark, "*.txt", s"$dir/books"))
    val r  = df.select("file_name", "dir1").head()
    assert(r.getString(0).endsWith(".txt"))
    assert(r.getString(1) == "books")
  }
}

class RedactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("redactPii replaces emails, urls and phone numbers only") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val in = Seq(
      "mail me at jane.doe+x@corp.example.org today",
      "see https://example.com/a?b=1 and http://x.io",
      "call 555-123-4567 or 555 987 6543",
      "plain text stays: order 12345, v2.0, a@b is not an email").toDF("t")
    val out = in.select(TextAnalysis.redactPii(col("t"))).as[String].collect()
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "see <URL> and <URL>")
    assert(out(2) == "call <PHONE> or <PHONE>")
    assert(out(3) == "plain text stays: order 12345, v2.0, a@b is not an email")
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val t = Tables(TestSpark.spark, TestSpark.sf)

  test("exact dedup preserves row count when no duplicates") {
    val d = Dedup.exact(t)
    assert(d.count() == t.documents.count())
    assert(d.agg(sum("n_copies")).head().getLong(0) == t.documents.count())
  }

  test("minhash est_jaccard approximates true jaccard on lsh pairs") {
    val lsh  = Dedup.minhashLshPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val real = Dedup.ngramJaccardPairs(t, 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(lsh.nonEmpty)
    val errs = lsh.collect { case (k, est) if real.contains(k) => math.abs(est - real(k)) }
    assert(errs.nonEmpty && errs.sum / errs.size < 0.3, s"mean |est-true| too high")
  }

  test("stop-shingle df cap collapses boilerplate-driven candidate explosion") {
    import spark.implicits._
    // Skewed corpus: every doc shares a boilerplate header (hot shingles,
    // df = 40) but the real near-dup signal is in the unique tails.
    val header = "terms of service all rights reserved please read carefully before use"
    val docs = (1L to 40L).map { i =>
      val tail =
        if (i == 2L) "a1 b1 c1 d1 e1 f1 g1 changed"  // near-copy of doc 1's tail
        else s"a$i b$i c$i d$i e$i f$i g$i h$i"
      (i, s"$header $tail")
    }.toDF("doc_id", "text")
    docs.cache().count()
    val uncapped = Dedup.ngramJaccardPairsOf(docs, 3, 0.0)
    val capped   = Dedup.ngramJaccardPairsOf(docs, 3, 0.0, maxShingleDf = Some(5L))
    val nUncapped = uncapped.count()
    val nCapped   = capped.count()
    // boilerplate links all C(40,2) = 780 pairs; the cap must kill that
    assert(nUncapped == 780L, s"expected full clique, got $nUncapped")
    assert(nCapped < nUncapped / 10, s"cap barely helped: $nCapped vs $nUncapped")
    // the genuine near-dup pair (1, 2) shares tail shingles with df <= 2
    // ("unique tail payload for document ...") and must survive the cap
    val cappedPairs = capped.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.contains((1L, 2L)), s"true near-dup lost: $cappedPairs")
    docs.unpersist()
  }

  test("containment df cap: no-op cap is row-identical, tight cap collapses the ordered boilerplate clique (r11 verdict #3)") {
    import spark.implicits._
    // Same skewed corpus as the Jaccard cap spec: a shared boilerplate
    // header links every ORDERED pair (40·39 = 1560 — double Jaccard's
    // clique), real signal only in the tails of docs 1/2.
    val header = "terms of service all rights reserved please read carefully before use"
    val docs = (1L to 40L).map { i =>
      val tail =
        if (i == 2L) "a1 b1 c1 d1 e1 f1 g1 changed"
        else s"a$i b$i c$i d$i e$i f$i g$i h$i"
      (i, s"$header $tail")
    }.toDF("doc_id", "text")
    docs.cache().count()
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val uncapped = pairs(Dedup.containmentPairsOf(docs, 3, 0.0))
    // τ ≥ corpus size: the cap machinery engaged but filtering nothing
    // must be row-identical (sizes and join see the same universe)
    assert(pairs(Dedup.containmentPairsOf(docs, 3, 0.0, maxShingleDf = Some(1000L))) == uncapped)
    assert(uncapped.size == 40 * 39, s"expected the full ordered clique, got ${uncapped.size}")
    val capped = pairs(Dedup.containmentPairsOf(docs, 3, 0.0, maxShingleDf = Some(5L)))
    assert(capped.size < uncapped.size / 10, s"cap barely helped: ${capped.size}")
    // the genuine near-dup survives in BOTH directions (ordered pairs)
    val ids = capped.map(p => (p._1, p._2))
    assert(ids.contains((1L, 2L)) && ids.contains((2L, 1L)), s"true near-dup lost: $ids")
    docs.unpersist()
  }

  test("persistent lsh index: self-probe == in-memory pairs; incremental probe catches planted near-dup, passes novel doc") {
    import spark.implicits._
    // 1. Round-trip equivalence (the artifact-path oracle): probing a
    //    corpus against its own index reproduces the in-memory join.
    val mem = Dedup.minhashLshPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rt = Dedup.minhashIndexRoundTrip(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rt == mem, s"round-trip != in-memory: only-rt=${rt -- mem} only-mem=${mem -- rt}")
    // 2. The PRODUCTION shape — write once, probe a later batch: the
    //    probe never re-shingles the corpus, yet a near-copy of an
    //    indexed doc is caught and a novel doc sails through.
    val corpus = (1L to 30L)
      .map(i => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text")
    val dir = TestSpark.tempDir("lshidx").toString
    Dedup.minhashIndexBuild(corpus, dir)
    val batch = Seq(
      (1001L, "alpha7 beta7 gamma7 delta7 epsilon7 zeta7 eta7 CHANGED"), // near-dup of doc 7
      (1002L, "omega nu xi omicron pi rho sigma tau upsilon phi")        // novel
    ).toDF("doc_id", "text")
    val hits = Dedup.minhashIndexProbe(batch, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((7L, 1001L)), s"planted near-dup of indexed doc 7 not caught: $hits")
    assert(!hits.exists { case (a, b) => a == 1002L || b == 1002L },
      s"novel doc produced spurious pairs: $hits")
  }

  test("persistent lsh index: incremental append == from-scratch rebuild over the union corpus") {
    import spark.implicits._
    def corpus(ids: Range) = ids
      .map(i => (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text")
    val dayOne = corpus(1 to 20)
    val dayTwo = corpus(21 to 30)
      // plant a near-dup of day-one doc 5 inside day two
      .union(Seq((1005L, "alpha5 beta5 gamma5 delta5 epsilon5 zeta5 eta5 CHANGED"))
        .toDF("doc_id", "text"))
    val probe = corpus(1 to 30).union(dayTwo.filter(col("doc_id") === 1005L))
    val incDir = TestSpark.tempDir("lshinc").toString
    Dedup.minhashIndexBuild(dayOne, incDir)
    Dedup.minhashIndexAppend(dayTwo, incDir)
    val fullDir = TestSpark.tempDir("lshfull").toString
    Dedup.minhashIndexBuild(dayOne.union(dayTwo), fullDir)
    def pairs(dir: String) = Dedup.minhashIndexProbe(probe, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = pairs(incDir)
    val full = pairs(fullDir)
    assert(inc == full, s"append diverged from rebuild: only-inc=${inc -- full} only-full=${full -- inc}")
    // and the planted cross-day near-dup is visible through the appended index
    assert(inc.exists { case (a, b, _) => a == 5L && b == 1005L }, s"cross-day near-dup missing: $inc")
  }

  test("artifact meta: parameter mismatches fail loudly instead of silently missing") {
    import spark.implicits._
    val corpus = (1L to 5L)
      .map(i => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i"))
      .toDF("doc_id", "text")
    val dir = TestSpark.tempDir("lshmeta").toString
    Dedup.minhashIndexBuild(corpus, dir, rowsPerBand = 2)
    // rowsPerBand mismatch: every band key would miss — zero
    // candidates that READ as "no near-dups"; must throw instead
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexProbe(corpus, dir, rowsPerBand = 4)
    }
    assert(e.getMessage.contains("rowsPerBand"), e.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.minhashIndexAppend(corpus, dir, k = 8)
    }
    // matched parameters still probe fine
    assert(Dedup.minhashIndexProbe(corpus, dir).collect() != null)
    // curate artifact: spanK is baked into wins/
    val art = TestSpark.tempDir("curmeta").toString
    graft.operators.Curate.writeAnnotateArtifact(corpus, art, spanK = 10)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Curate.curateFromArtifact(spark, art, spanK = 5)
    }
    assert(e2.getMessage.contains("spanK"), e2.getMessage)
    // varying the DOWNSTREAM knobs is legitimate and must not throw
    graft.operators.Curate.curateFromArtifact(spark, art, minQuality = 0.9,
      rowsPerBand = 4).collect()
  }

  test("streaming band index carries the same provenance stamp: mismatched ingest wiring throws") {
    import spark.implicits._
    val corpus = (1L to 5L)
      .map(i => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i"))
      .toDF("doc_id", "text")
    val dir = TestSpark.tempDir("sbandmeta").toString
    graft.streaming.Streams.buildBandIndex(corpus, s"$dir/index", rowsPerBand = 2)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.nearDupIngest(docs, s"$dir/index", s"$dir/acc", rowsPerBand = 4)
    }
    assert(e.getMessage.contains("rowsPerBand"), e.getMessage)
  }

  test("simhash is stable and near-dups have small hamming distance") {
    val sims = Dedup.simhash(t).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // near-dup pairs by jaccard should be close in simhash space
    val near = Dedup.ngramJaccardPairs(t, 3, 0.6).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.nonEmpty)
    val dists = near.map { case (a, b) => java.lang.Long.bitCount(sims(a) ^ sims(b)) }
    assert(dists.sum.toDouble / dists.size < 8.0, s"mean hamming ${dists.sum.toDouble / dists.size}")
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val t = Tables(TestSpark.spark, TestSpark.sf)

  test("cosine of identical vectors is 1") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a").cast("array<double>"),
      col("b").cast("array<double>"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("ann-lsh neighbors carry exact scores and reasonable recall") {
    val exact = Similarity.cosineTopK(t, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = Similarity.annLshTopK(t, 10, 5, bits = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ann.nonEmpty)
    // scores for overlapping pairs must agree exactly (same cosine impl)
    ann.foreach { case (k, s) => exact.get(k).foreach(e => assert(math.abs(e - s) < 1e-9)) }
    val recall = ann.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.1, s"recall $recall")
  }

  test("multi-probe lsh recall dominates single-probe at the same bits") {
    val exact = Similarity.cosineTopK(t, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val single = recallOf(Similarity.annLshSingleProbe(t, 10, 5, bits = 4))
    val multi  = recallOf(Similarity.annLshMultiProbe(t, 10, 5, bits = 4, probeRadius = 1))
    assert(multi >= single, s"multi $multi < single $single")
    assert(multi >= 0.3, s"multi-probe recall $multi")
    // scores for found pairs still agree exactly with the exact ranker
    val exactScores = Similarity.cosineTopK(t, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.annLshMultiProbe(t, 10, 5, bits = 4).collect()
      .foreach(r => exactScores.get((r.getLong(0), r.getLong(1)))
        .foreach(e => assert(math.abs(e - r.getDouble(2)) < 1e-9)))
  }

  test("knnGraph: k edges per source, mutuality flag matches the reversed-edge set") {
    val edges = Similarity.knnGraph(t, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val perSrc = edges.groupBy(_._1)
    assert(perSrc.values.forall(es => es.length == 3 && es.map(_._3).sorted.sameElements(Array(1L, 2L, 3L))))
    val edgeSet = edges.map(e => (e._1, e._2)).toSet
    edges.foreach { case (src, dst, _, _, mutual) =>
      assert(mutual == edgeSet.contains((dst, src)), s"mutual flag wrong for ($src,$dst)")
    }
    // the graph's rank-1 edge agrees with the exact ranker where both cover
    val top1 = Similarity.cosineTopK(t, 10, 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    perSrc.filter(_._1 < 10).foreach { case (src, es) =>
      val first = es.minBy(_._3)
      assert(top1(src) == ((first._2, first._4)))
    }
  }

  test("knnGraph: the all-pairs guard refuses tables past maxExactRows") {
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnGraph(t, k = 3, maxExactRows = 10L, knownRows = Some(11L))
    }
    assert(ex.getMessage.contains("annLshTopK"))
  }

  test("ivf+pq shortlist re-rank recalls the exact in-cell top-k; widening the shortlist helps") {
    val exact = Similarity.ivfTopK(t, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def run(factor: Int) = Similarity.ivfPqTopK(t, 10, 5, shortlistFactor = factor).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq2 = run(2)
    val pq6 = run(6)
    assert(pq2.size == exact.size)
    // overlapping pairs carry the exact cosine (re-rank is exact)
    pq2.foreach { case (k, s) => exact.get(k).foreach(e => assert(math.abs(e - s) < 1e-9)) }
    def recall(m: Map[(Long, Long), Double]) =
      m.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall(pq2) >= 0.3, s"recall ${recall(pq2)} at 2k shortlist")
    // the standard ANN quality lever: a wider shortlist must not hurt
    assert(recall(pq6) >= recall(pq2), s"${recall(pq6)} < ${recall(pq2)}")
    assert(recall(pq6) >= 0.6, s"recall ${recall(pq6)} at 6k shortlist")
  }

  test("semantic prune: pruned_by is the min lower-id neighbor; one-pass rule documented") {
    // kept vectors are exactly those with NULL pruned_by; a vector's
    // pruner can itself be pruned (one-pass, more aggressive than
    // greedy — the documented contract)
    val rows = Similarity.semanticPrune(t).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows.nonEmpty)
    val pairs = Similarity.embeddingDupPairsLsh(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    rows.foreach { case (v, p) => assert(p == expect.get(v), s"vec $v pruned_by $p") }
    // every pair must leave at most one side unpruned among its two ends
    pairs.foreach { case (a, b) =>
      assert(rows(b).nonEmpty, s"pair ($a,$b): higher id must be pruned") }
  }

  test("exact dup-pairs baseline refuses tables beyond its broadcast cap") {
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingDupPairs(t, 0.4, maxExactRows = 10L).collect()
    }
    assert(e.getMessage.contains("embeddingDupPairsLsh"), e.getMessage)
    // the guard applies to a caller-supplied size too — no silent bypass
    val e2 = intercept[IllegalArgumentException] {
      Similarity.embeddingDupPairs(t, 0.4, maxExactRows = 10L, knownRows = Some(11L))
    }
    assert(e2.getMessage.contains("embeddingDupPairsLsh"), e2.getMessage)
  }

  test("dup-pairs with knownRows skips the guard's count() job") {
    val sc = spark.sparkContext
    // Count the jobs each construction path runs. Both paths pay the
    // same fixed costs (one parquet-footer job from the table read, the
    // flush sentinel's jobs); only the default path should add the
    // guard count() on top. The listener bus is async but FIFO, so a
    // sentinel action flushed to completion bounds the measurement.
    def jobsDuring(body: => Unit): Int = {
      val starts = new java.util.concurrent.atomic.AtomicInteger(0)
      val ends = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.incrementAndGet()
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          ends.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        body
        spark.range(1).count() // sentinel: every job is finished once this returns
        // drain the async bus: wait until start/end counts match and
        // hold still — all submitted jobs are then fully delivered
        val deadline = System.currentTimeMillis + 30000
        var last = -1
        while (System.currentTimeMillis < deadline &&
            (starts.get != ends.get || starts.get != last)) {
          last = starts.get
          Thread.sleep(200)
        }
        starts.get
      } finally sc.removeSparkListener(listener)
    }
    val withKnown = jobsDuring {
      Similarity.embeddingDupPairs(t, 0.4, knownRows = Some(500L))
        .queryExecution.executedPlan
    }
    val withGuard = jobsDuring {
      Similarity.embeddingDupPairs(t, 0.4).queryExecution.executedPlan
    }
    assert(withGuard > withKnown,
      s"knownRows should skip the guard count job: guard=$withGuard known=$withKnown")
  }

  test("lsh near-dup pairs are a high-recall subset of exact pairs") {
    val exact = Similarity.embeddingDupPairs(t, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embeddingDupPairsLsh(t, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "lsh must never invent pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("hashing-trick vectors separate near-dups from random pairs") {
    import graft.functions.VectorFunctions
    val vecs = Similarity.hashingVectors(t)
    val cos = vecs.as("a").join(vecs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        (VectorFunctions.dot(col("a.v"), col("b.v")) /
          (VectorFunctions.l2norm(col("a.v")) * VectorFunctions.l2norm(col("b.v")))).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val near = Dedup.ngramJaccardPairs(t, 3, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.nonEmpty)
    val nearCos = near.toSeq.map(cos)
    val restCos = (cos.keySet -- near).toSeq.map(cos)
    val nearAvg = nearCos.sum / nearCos.size
    val restAvg = restCos.sum / restCos.size
    assert(nearAvg > 0.95, s"near-dup hashed cosine avg $nearAvg")
    assert(nearAvg - restAvg > 0.05, s"no separation: near $nearAvg vs rest $restAvg")
  }

  test("kmeans-ivf returns correctly-scored neighbors with useful recall") {
    val exact = Similarity.cosineTopK(t, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfKmeansTopK(t, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (p, s) => exact.get(p).foreach(e => assert(math.abs(e - s) < 1e-9)) }
    val recall = ivf.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.3, s"kmeans-ivf recall $recall")
  }

  test("ivf probes only the query's cluster") {
    val labels = t.embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    Similarity.ivfTopK(t, 10, 5).collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)))
    }
  }
}

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val t   = Tables(TestSpark.spark, TestSpark.sf)
  val tmp = "target/test-sinks"

  test("csv sink round-trips") {
    val df = t.nation
    graft.sinks.Sinks.csv(df, s"$tmp/nation_csv")
    val back = spark.read.option("sep", ";").option("header", "true").csv(s"$tmp/nation_csv")
    assert(back.count() == df.count())
  }

  test("jdbc sink writes batched rows to embedded derby and reads back") {
    val url = s"jdbc:derby:target/derby-test;create=true"
    val df  = t.region.select(col("r_regionkey").cast("int"), col("r_name"))
    import java.sql.DriverManager
    val conn = DriverManager.getConnection(url)
    try { conn.createStatement().execute("DROP TABLE region_out") } catch { case _: Exception => () }
    conn.createStatement().execute("CREATE TABLE region_out (r_regionkey INT, r_name VARCHAR(64))")
    conn.close()
    graft.sinks.Sinks.foreachPartitionJdbc(df, url,
      "INSERT INTO region_out (r_regionkey, r_name) VALUES (?, ?)")
    val back = spark.read.jdbc(url, "region_out", new java.util.Properties())
    assert(back.count() == df.count())
  }

  test("conditional + loadBalanced compose") {
    var ran = false
    graft.sinks.Sinks.conditional(condition = false)(t.nation)(_ => ran = true)
    assert(!ran)
    graft.sinks.Sinks.loadBalanced(t.nation, 3) { d =>
      assert(d.rdd.getNumPartitions == 3); ran = true
    }
    assert(ran)
  }

  test("pipeline composes stages as one plan") {
    val pipe = Pipeline(
      _.filter(col("n_regionkey") === 0),
      _.select("n_name"),
      Pipeline.when(cond = true)(_.limit(3)))
    assert(pipe(t.nation).count() <= 3)
  }

  test("lshEval: counts compose the two gated queries (identical-corpus sanity)") {
    import spark.implicits._
    val spark2 = spark
    // identical docs → exact pair at jaccard 1.0, LSH must surface it
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words here nothing shared at all"))
      .toDF("doc_id", "text")
    val r = graft.operators.Dedup.lshEvalOf(docs).collect().head
    assert(r.getLong(r.fieldIndex("n_true")) == 1L)
    assert(r.getLong(r.fieldIndex("n_hit")) == 1L)
    assert(r.getDouble(r.fieldIndex("recall")) == 1.0)
  }

  test("lshEval: one-sided pairs keep their counts (full-outer restructure, r15)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words here nothing shared at all"))
      .toDF("doc_id", "text")
    // candidate-only row (right side of the full outer): exact threshold
    // impossible → no true pairs, but LSH still surfaces (1,2)
    val co = graft.operators.Dedup.lshEvalOf(docs, threshold = 1.1).collect().head
    assert(co.getLong(co.fieldIndex("n_true")) == 0L)
    assert(co.getLong(co.fieldIndex("n_candidates")) == 1L)
    assert(co.getLong(co.fieldIndex("n_hit")) == 0L)
    assert(co.isNullAt(co.fieldIndex("recall")))
    assert(co.getDouble(co.fieldIndex("candidate_precision")) == 0.0)
    // exact-only row (left side): estThreshold impossible → no candidates
    val eo = graft.operators.Dedup.lshEvalOf(docs, estThreshold = 1.1).collect().head
    assert(eo.getLong(eo.fieldIndex("n_true")) == 1L)
    assert(eo.getLong(eo.fieldIndex("n_candidates")) == 0L)
    assert(eo.getLong(eo.fieldIndex("n_hit")) == 0L)
    assert(eo.getDouble(eo.fieldIndex("recall")) == 0.0)
    assert(eo.isNullAt(eo.fieldIndex("candidate_precision")))
  }

  test("lshEval: empty corpus reads zero counts and NULL rates, not /0") {
    import spark.implicits._
    val docs = Seq((1L, "one single document only")).toDF("doc_id", "text")
    val r = graft.operators.Dedup.lshEvalOf(docs).collect().head
    assert(r.getLong(r.fieldIndex("n_true")) == 0L)
    assert(r.isNullAt(r.fieldIndex("recall")))
  }

  test("estCalibration: identical docs read exact zero error; near-dups stay within the 1/sqrt(k) band") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),                             // jaccard 1, est must be 1
      (3L, base + " lambda mu"), (4L, "different words entirely nothing shared here at all"))
      .toDF("doc_id", "text")
    val r = graft.operators.Dedup.estCalibrationOf(docs).collect().head
    assert(r.getLong(0) >= 1L)
    assert(r.getDouble(r.fieldIndex("max_abs_err")) <= 1.0 / math.sqrt(16) + 0.35)
    // the identical pair contributes error exactly 0 → p50 over few pairs small
    assert(r.getDouble(r.fieldIndex("p50_abs_err")) <= r.getDouble(r.fieldIndex("max_abs_err")))
  }
}
