package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, FileCorpus, Layout}
import graft.sources.Tables

/** pack_sequences: causal-LM fixed-length packing — exact integer
  * token accounting, conservation, and the split/carry-in semantics a
  * masking strategy depends on.
  */
class PackSequencesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("hand-walked manifest: splits, carry-ins, final partial sequence") {
    import spark.implicits._
    // token counts 3, 5, 4, 2 at L=4 → doc 20 is cut at seq0's right
    // edge and carries into seq1; seq3 is the 2-token partial tail
    val docs = Seq(
      (10L, "a b c"),
      (20L, "d e f g h"),
      (30L, "i j k l"),
      (40L, "m n")).toDF("doc_id", "text")
    val rows = Layout.packSequencesOf(docs, seqLen = 4L, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (0L, 2L, 2L, 1L, 4L),  // doc10 whole + doc20's first token, doc20 split
      (1L, 1L, 0L, 0L, 4L),  // doc20's carried remainder exactly fills it
      (2L, 1L, 1L, 0L, 4L),
      (3L, 1L, 1L, 0L, 2L))) // partial tail
  }

  test("corpus properties: token conservation, every non-final sequence full") {
    val L = 512L
    val seqs = Layout.packSequences(t, seqLen = L).collect()
    val totalTokens = t.documents
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long"))).head.getLong(0)
    assert(seqs.map(_.getLong(4)).sum == totalTokens, "packing must conserve tokens")
    val last = seqs.map(_.getLong(0)).max
    seqs.filter(_.getLong(0) != last).foreach { r =>
      assert(r.getLong(4) == L, s"non-final seq ${r.getLong(0)} not full: ${r.getLong(4)}")
    }
    // every doc starts exactly once; ids are the contiguous range
    assert(seqs.map(_.getLong(2)).sum == t.documents.count())
    assert(seqs.map(_.getLong(0)).toSeq == (0L to last).toSeq)
    // started + carry-ins account for all contributions
    seqs.foreach(r => assert(r.getLong(1) >= r.getLong(2) && r.getLong(3) <= r.getLong(1)))
  }
}

/** stop_shingles: the df-tail manifest the containment/Jaccard
  * `maxShingleDf` cap is tuned from.
  */
class StopShinglesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("boilerplate header dominates the manifest with exact fan-out math") {
    import spark.implicits._
    // the DedupSpec cap corpus: a header shared by all 40 docs, unique tails
    val header = "terms of service all rights reserved please read carefully before use"
    val docs = (1L to 40L).map(i => (i, s"$header a$i b$i c$i")).toDF("doc_id", "text")
    val rows = Dedup.stopShinglesOf(docs, n = 3, k = 8).collect()
    assert(rows.length == 8)
    // header has 11 words → 9 tri-shingles wholly inside it, df = 40
    // each (shingles bridging into the unique tails have df 1); the
    // top-8 are the first 8 of that equal-df block, fan-out 40·39 each
    rows.foreach { r =>
      assert(r.getLong(1) == 40L, s"df: $r")
      assert(r.getLong(2) == 40L * 39L, s"fanout: $r")
    }
    // ties broken on shingle text: ascending within the equal-df block
    val shingles = rows.map(_.getString(0)).toSeq
    assert(shingles == shingles.sorted, "equal-df ties must order by shingle text")
    // share: the 9 hot shingles carry ALL fan-out (df-1 tail is 0) → 1/9 each
    rows.foreach(r => assert(math.abs(r.getDouble(3) - 1.0 / 9) < 1e-5, s"share: $r"))
  }

  test("k caps the manifest; an all-unique corpus yields zero shares") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, s"u$i v$i w$i x$i y$i")).toDF("doc_id", "text")
    val rows = Dedup.stopShinglesOf(docs, n = 3, k = 3).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 0L && r.getDouble(3) == 0.0)
    }
  }
}

/** dedup_lines: cross-file boilerplate line removal over the in-repo
  * sample books (`FileCorpus.BooksDir`, whose Project Gutenberg-style
  * license lines repeat across most files) plus a planted corpus
  * pinning the exact threshold semantics.
  */
class DedupLinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("planted corpus: exactly the >= minFiles lines drop, chars conserved") {
    val dir = TestSpark.tempDir("graft-dedup-lines").toFile
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        lines.mkString("\n").getBytes("UTF-8"))
    val boiler = "COMMON LICENSE BOILERPLATE LINE"
    write("a.txt", Seq(boiler, "alpha unique content", "shared by two"))
    write("b.txt", Seq(boiler, "beta unique content", "shared by two"))
    write("c.txt", Seq(boiler, "gamma unique content"))
    val rows = FileCorpus.dedupLinesIn(spark, dir.getPath, minFiles = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // only the 3-file line is boilerplate; the 2-file line survives
    assert(rows("a.txt") == ((3L, 1L, "alpha unique content".length + "shared by two".length)))
    assert(rows("b.txt") == ((3L, 1L, "beta unique content".length + "shared by two".length)))
    assert(rows("c.txt") == ((2L, 1L, "gamma unique content".length.toLong)))
    // at minFiles = 2 the shared line drops too
    val at2 = FileCorpus.dedupLinesIn(spark, dir.getPath, minFiles = 2)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(at2("a.txt") == 2L && at2("b.txt") == 2L && at2("c.txt") == 1L)
  }

  test("Gutenberg books: real license boilerplate detected, accounting consistent") {
    val stats = FileCorpus.fileLineStats(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = FileCorpus.dedupLines(spark).collect()
    assert(rows.map(_.getString(0)).toSet == stats.keySet, "file set must match line stats")
    rows.foreach { r =>
      val (nLines, sumChars) = stats(r.getString(0))
      assert(r.getLong(1) == nLines, s"line count drifted for ${r.getString(0)}")
      assert(r.getLong(2) <= nLines && r.getLong(3) <= sumChars)
    }
    // the license apparatus repeats across the corpus: boilerplate must
    // actually fire on real data, in most files
    val withBoiler = rows.count(_.getLong(2) > 0)
    assert(withBoiler * 2 > rows.length,
      s"expected license boilerplate in most books, got $withBoiler/${rows.length}")
  }
}

/** quality_blocklist: the C4 badword gate — exact hit accounting on a
  * hand-built corpus, both keep policies, and corpus-level sanity.
  */
class BlocklistSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("hand-built docs: hits, distinct terms, both keep policies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean text with nothing blocked here at all"),      // 8 words, 0 hits
      (2L, "one slow word inside twenty tokens a b c d e f g h i j k l m n"), // 20, 1 hit
      (3L, "slow big slow big"),                                  // 4 words, 4 hits
      (4L, "")).toDF("doc_id", "text")
    val rows = graft.operators.QualityRules.blocklistOf(docs, maxRatio = 0.05)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5), r.getInt(6))).toMap
    assert(rows(1L) == ((8L, 0L, 0L, 0.0, 1, 1)))
    assert(rows(2L) == ((20L, 1L, 1L, 0.05, 0, 1)))   // at the ratio boundary: kept
    assert(rows(3L) == ((4L, 4L, 2L, 1.0, 0, 0)))
    assert(rows(4L) == ((0L, 0L, 0L, 0.0, 1, 1)))      // empty doc: no /0, kept
  }

  test("corpus: both policies discriminate; ratio keeps a superset of strict") {
    val rows = graft.operators.QualityRules.blocklist(t).collect()
    val strict = rows.map(_.getInt(5)).sum
    val ratio  = rows.map(_.getInt(6)).sum
    assert(strict > 0 && strict < rows.length, s"strict_keep must discriminate: $strict/${rows.length}")
    assert(ratio >= strict, "every strict keep is a ratio keep")
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(3), "hits >= distinct terms"))
  }
}

/** q_dp_counts: the Laplace mechanism over the per-source card —
  * deterministic seeded noise, exact 1/ε scaling, contribution clamp.
  */
class DpCountsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("noise scales exactly 1/eps (same seed), exact columns untouched") {
    val e1  = graft.operators.Curate.dpCountsOf(t.documents, eps = 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
    val e10 = graft.operators.Curate.dpCountsOf(t.documents, eps = 10.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(e1.keySet == e10.keySet && e1.nonEmpty)
    e1.foreach { case (src, r1) =>
      val r10 = e10(src)
      val (n, tok) = (r1.getLong(1), r1.getLong(2))
      assert(r10.getLong(1) == n && r10.getLong(2) == tok, "exact columns must not vary with eps")
      val noise1  = r1.getDouble(3) - n
      val noise10 = r10.getDouble(3) - n
      // same md5 fraction, b scaled by 10 → noise scaled by 10 (to the 6dp the gate rounds at)
      assert(math.abs(noise1 - 10.0 * noise10) < 2e-5, s"$src: $noise1 vs ${10.0 * noise10}")
      assert(noise1 != 0.0, s"$src: Laplace draw must not be exactly zero")
      assert(math.abs(noise1) < 35.0, s"$src: |noise| beyond the 15-hex-digit inverse-CDF range")
    }
  }

  test("contribution clamp bounds the token sum") {
    import spark.implicits._
    val docs = Seq((1L, "s", ("w " * 50).trim), (2L, "s", "a b")).toDF("doc_id", "source", "text")
    val r = graft.operators.Curate.dpCountsOf(docs, eps = 1.0, clamp = 10L).collect()(0)
    assert(r.getLong(2) == 12L, "50-token doc clamps to 10, 2-token doc rides whole")
  }
}

/** multimodal_cdc: content-defined chunking — hand-walked cuts, byte
  * conservation, and the shift-resilience property that motivates CDC
  * over fixed-size blocks.
  */
class CdcChunksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cutsOf(s: String, w: Int = 8, b: Long = 31L, d: Long = 64L): Seq[Int] = {
    import spark.implicits._
    Seq(s).toDF("t")
      .select(graft.functions.CdcCutsExpr.cuts(
        org.apache.spark.sql.functions.encode($"t", "UTF-8"), w, b, d).as("e"))
      .collect()(0).getSeq[Int](0)
  }

  test("cuts match a literal reference implementation of the window polynomial") {
    val s = "the quick brown fox jumps over the lazy dog and then some more text to chunk"
    val (w, b, d) = (8, 31L, 16L) // denser cuts than the query default so the test string has interior ones
    val bytes = s.getBytes("UTF-8").map(_ & 0xff)
    val expected = (w - 1 until bytes.length - 1).filter { i =>
      val h = (0 until w).map(j => bytes(i - j).toLong * math.pow(b.toDouble, j).toLong).sum
      h % d == d - 1
    } :+ (bytes.length - 1)
    assert(cutsOf(s, w, b, d) == expected)
    assert(expected.length > 1, "reference string must actually produce an interior cut")
  }

  test("boundaries survive a prefix insertion (the CDC property)") {
    val tail = "stable suffix content that should keep its chunk boundaries intact ok"
    val a = "x " + tail
    val b = "a freshly inserted prefix of different length here " + tail
    val ca = cutsOf(a, d = 16L); val cb = cutsOf(b, d = 16L)
    // cuts inside the shared tail sit at the same distance from the END
    val tailCutsA = ca.map(a.length - 1 - _).filter(_ < tail.length - 8).toSet
    val tailCutsB = cb.map(b.length - 1 - _).filter(_ < tail.length - 8).toSet
    assert(tailCutsA == tailCutsB && tailCutsA.nonEmpty,
      s"content-defined cuts must realign after the edit window: $tailCutsA vs $tailCutsB")
  }

  test("corpus rollup: conservation, ASCII precondition, chunk accounting") {
    val sfDir = TestSpark.sf
    val rows = graft.multimodal.Multimodal.cdcChunksQuery(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    import org.apache.spark.sql.functions._
    // the oracle twin reads chars where Spark reads payload bytes — only
    // valid while the corpus is single-byte; fail loudly if that drifts
    val nonAscii = docs.filter(length(encode(col("text"), "UTF-8")) =!= length(col("text"))).count()
    assert(nonAscii == 0L, "testdata documents must be pure ASCII for the CDC oracle twin")
    val totalBytes = docs.agg(sum(length(col("text")).cast("long"))).head.getLong(0)
    assert(rows.map(_.getLong(4)).sum == totalBytes, "chunking must conserve bytes")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "distinct <= chunks")
      assert(r.getLong(5) < r.getLong(4), "dup bytes < total bytes")
      val mean = r.getDouble(6)
      assert(mean > 8.0 && mean < 256.0, s"mean chunk len off the D=64 target: $mean")
    }
  }
}

/** q_filter_funnel: staged-gate attrition — funnel invariants plus a
  * hand-built corpus where every stage's marginal removal is known.
  */
class FilterFunnelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("hand-built corpus: marginal removals per stage, in order") {
    import spark.implicits._
    val good = (1 to 60).map(i => s"tok$i").mkString(" ") // passes gopher (60 words, stopless... )
    // gopher needs >=2 stop hits; weave in stopwords
    val goodDoc = ("the and " + good).trim
    val docs = Seq(
      (1L, "en", goodDoc),                    // survives everything
      (2L, "en", goodDoc),                    // exact dup of 1 → stage-1 removal
      (3L, "zh", goodDoc + " zh1"),           // stage-2 removal (lang)
      (4L, "en", "too short"),                // stage-3 removal (gopher word bound)
      (5L, "en", ("the and slow slow slow slow " + good).trim)) // stage-4 removal (blocklist ratio 4/66 > 0.05)
      .toDF("doc_id", "lang", "text")
    val rows = graft.operators.Curate.filterFunnelOf(docs)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (1, "exact_dedup", 5L, 1L, 4L),
      (2, "lang_filter", 4L, 1L, 3L),
      (3, "gopher_quality", 3L, 1L, 2L),
      (4, "blocklist", 2L, 1L, 1L)))
  }

  test("corpus invariants: conservation, monotone survival") {
    val rows = graft.operators.Curate.filterFunnel(t).collect()
    assert(rows.length == 4)
    val n = rows(0).getLong(2)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) == b.getLong(2), "stage k's out is stage k+1's in")
    }
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(3) + r.getLong(4), "in = removed + out")
      assert(r.getDouble(6) <= 1.0 && r.getDouble(6) >= 0.0)
    }
    assert(rows.last.getLong(4) > 0, "the funnel must not empty the corpus")
    assert(rows.map(_.getLong(3)).sum < n, "something must survive overall")
  }
}

/** multimodal_cdc_dedup: planted prefix-mutated twins must surface
  * through shared content-defined chunks.
  */
class CdcDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("planted twins recovered; exact-dup documents read containment 1") {
    val rows = graft.multimodal.Multimodal.cdcDedupQuery(spark, TestSpark.sf).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // planted: (id, id + 10M) for id % 7 == 0 — most must surface (short
    // single-chunk blobs legitimately share nothing after a prefix edit)
    val planted = pairs.filter { case (a, b, _) => b == a + 10000000L }
    val nPlantable = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0).count()
    assert(planted.length * 10 >= nPlantable * 7,
      s"expected >=70% of $nPlantable planted twins, got ${planted.length}")
    planted.foreach { case (_, _, c) => assert(c >= 0.5 && c <= 1.0) }
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs once, a < b")
      assert(r.getLong(2) > 0, "shared bytes positive")
    }
  }
}

/** quality_entropy: information-theoretic gibberish signals — exact
  * hand-computed entropies, degenerate docs, and the keep band.
  */
class EntropyRulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("hand-computed entropies: uniform, degenerate, empty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ab ab"),        // chars a,b,a,b → H = ln 2; words: ab ×2 → H 0, ttr 0.5
      (2L, "aaaa"),         // one symbol → H 0 (repetitive spam tail)
      (3L, "abcd"),         // 4 uniform chars → H = ln 4
      (4L, "")).toDF("doc_id", "text")
    val rows = graft.operators.QualityRules.entropyOf(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getInt(6))).toMap
    val ln2 = math.rint(math.log(2) * 1e6) / 1e6
    val ln4 = math.rint(math.log(4) * 1e6) / 1e6
    assert(rows(1L) == ((4L, ln2, 2L, 0.0, 0.5, 0)))   // word entropy 0 but keep fails on char band
    assert(rows(2L) == ((4L, 0.0, 1L, 0.0, 1.0, 0)))   // spam tail rejected
    assert(rows(3L) == ((4L, ln4, 1L, 0.0, 1.0, 0)))   // ln4 ≈ 1.386 < 1.5: short-doc reject
    assert(rows(4L) == ((0L, 0.0, 0L, 0.0, 0.0, 0)))
  }

  test("corpus: natural text lands in the keep band; bounds ordered") {
    val rows = graft.operators.QualityRules.entropyRules(t).collect()
    val kept = rows.count(_.getInt(6) == 1)
    assert(kept * 10 > rows.length * 9, s"natural corpus must mostly pass: $kept/${rows.length}")
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(4) >= 0.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      // char entropy can't exceed ln(distinct ASCII symbols in play)
      assert(r.getDouble(2) < math.log(128.0))
    }
  }
}

/** src_partitioned_prune: the partition-pruning pillar — the predicate
  * must prune at PLANNING time (PartitionFilters), not ride as a data
  * filter over a full scan.
  */
class PartitionPruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("slice matches, predicate lands in PartitionFilters, files pruned") {
    val df = graft.sources.Formats.documentsPartitionedPrune(t)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(800))
    val pf = plan.split("PartitionFilters: ", 2)(1).split("]", 2)(0)
    assert(pf.contains("lang") && pf.contains("source"),
      s"partition predicate must prune at planning time: $pf")
    // the lang/source predicates are fully consumed by pruning — the
    // data-filter pushdown must NOT carry them
    val pushed = plan.split("PushedFilters: ", 2).last.split("]", 2)(0)
    assert(!pushed.contains("lang") && !pushed.contains("source"),
      s"partition keys must not reappear as data filters: $pushed")
    // content equality vs the unpartitioned table
    import org.apache.spark.sql.functions._
    val want = t.documents.filter(col("lang") === "en" && col("source") === "src0")
      .orderBy("doc_id").collect()
    val got = df.collect()
    assert(got.length == want.length && got.length > 0)
    assert(got.map(_.getLong(0)).toSeq == want.map(_.getLong(0)).toSeq)
    // partition-column values come back from directory names
    got.foreach(r => assert(r.getString(2) == "en" && r.getString(3) == "src0"))
  }
}
