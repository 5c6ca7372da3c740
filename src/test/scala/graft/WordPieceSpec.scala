package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.WordPiece
import graft.sources.Tables

/** WordPiece tokenizer contract (the third subword family beside BPE
  * and unigram-LM): the trainer must argmax the LIKELIHOOD score
  * f(ab)/(f(a)·f(b)) — not BPE's raw pair frequency — with `##`
  * continuation semantics, and the greedy encoder must be
  * longest-match-first with the char-coverage [UNK] theorem the
  * oracle's independent derivation relies on.
  */
class WordPieceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val t = Tables(spark, TestSpark.sf)
  import scala.jdk.CollectionConverters._

  private def words(rows: (String, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("word", "freq")
  }

  test("trainer argmaxes the likelihood score, not BPE's raw pair frequency") {
    // (a,##b) has the HIGHER raw count (100 > 60) but the LOWER score:
    //   score(a,##b)  = 100/(100·100) = 0.0100
    //   score(c,##d)  =  60/( 60· 60) ≈ 0.0167  ← WordPiece's pick
    // A BPE-frequency argmax would emit (a,##b) first — this corpus
    // separates the two objectives.
    val m = WordPiece.wpTrainOf(words("ab" -> 100L, "cd" -> 60L), merges = 1).collect()
    assert(m.length == 1)
    assert((m(0).getString(1), m(0).getString(2)) == ("c", "##d"),
      s"expected the score argmax (c,##d), got (${m(0).getString(1)},${m(0).getString(2)})")
    assert(m(0).getLong(3) == 60L && m(0).getLong(4) == 60L && m(0).getLong(5) == 60L)
  }

  test("merge composes with the continuation marker absorbed; later rounds see the new symbol") {
    // "lolo" splits to l ##o ##l ##o. Round 1 merges the best pair into
    // a ##-carrying symbol; the composed piece must strip the RIGHT's
    // marker only (##l + ##o → ##lo, l + ##o → lo).
    val m = WordPiece.wpTrainOf(words("lolo" -> 10L), merges = 2).collect()
    val composed1 = m(0).getString(1) + m(0).getString(2).stripPrefix("##")
    assert(m(0).getString(2).startsWith("##"), "continuation rhs must carry the marker")
    assert(!composed1.contains("####"), s"marker duplicated in composed symbol $composed1")
    // round 2's argmax must reference round 1's composed symbol — the
    // rewrite actually happened in the evolving segmentation
    val syms2 = Set(m(1).getString(1), m(1).getString(2))
    assert(syms2.contains(composed1) || composed1.length >= 3,
      s"round 2 ($syms2) never saw round 1's composed symbol $composed1")
  }

  test("position-awareness: a continuation-side merge keeps its ## and wins as a suffix piece") {
    // "xhe" splits to x ##h ##e: scores of (x,##h) and (##h,##e) tie at
    // 10/100, and the UTF-8 tie-break ('#' < 'x') picks the
    // CONTINUATION pair — composed "##he", a suffix-only piece a BPE
    // table cannot express. Round 2 must then merge (x, ##he) into the
    // full word.
    val m = WordPiece.wpTrainOf(words("xhe" -> 10L), merges = 2).collect()
    assert((m(0).getString(1), m(0).getString(2)) == ("##h", "##e"),
      s"tie-break must pick the continuation pair: (${m(0).getString(1)},${m(0).getString(2)})")
    assert((m(1).getString(1), m(1).getString(2)) == ("x", "##he"),
      "round 2 must consume round 1's ##-prefixed composed symbol")
  }

  test("greedy encoder: longest-match-first, continuation prefixes, reconstruction") {
    val s = spark
    import s.implicits._
    val df = Seq("the", "then", "rethe", "inner").toDF("word")
    val enc = WordPiece.wpEncodeOf(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(enc("the") == Seq("the"), "longest match must beat th+##e and t+##he")
    assert(enc("then") == Seq("the", "##n"))
    assert(enc("rethe") == Seq("re", "##t", "##he"))
    // every covered word reconstructs
    for ((w, ps) <- enc)
      assert(ps.map(_.stripPrefix("##")).mkString == w, s"$w -> $ps does not rebuild")
  }

  test("[UNK] theorem: greedy fails exactly on words with uncovered characters") {
    val s = spark
    import s.implicits._
    val df = Seq("queen", "zero", "hash#tag", "plain", "x9y").toDF("word")
    val enc = WordPiece.wpEncodeOf(df).collect()
      .map(r => (r.getString(0), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(enc("queen") == Set("[UNK]"), "q is uncovered")
    assert(enc("zero") == Set("[UNK]"), "z is uncovered")
    assert(enc("hash#tag") == Set("[UNK]"), "# is uncovered")
    assert(enc("x9y") == Set("[UNK]"), "digits are uncovered")
    assert(!enc("plain").contains("[UNK]"), "fully covered word must segment")
  }

  test("trained-vocab round trip: a wpTrain table drives the greedy matcher") {
    val s = spark
    import s.implicits._
    val corpus = words("hello" -> 50L, "help" -> 30L, "hollow" -> 20L)
    val merges = WordPiece.wpTrainOf(corpus, merges = 6).collect()
    // the round-5 cut taken reliably (checkpoint dir set) changes nothing
    TestSpark.withCheckpointDir("wp-ckpt") { ckpt =>
      assert(WordPiece.wpTrainOf(corpus, merges = 6).collect().toSeq == merges.toSeq)
      assert(TestSpark.anyFile(ckpt), "no reliable checkpoint written")
    }
    // vocab = every single-symbol piece of the corpus (both positions)
    // + the composed symbol of each merge, in training order
    val chars = "helopw".toSeq.map(_.toString)
    val vocab = chars ++ chars.map("##" + _) ++
      merges.map(r => r.getString(1) + r.getString(2).stripPrefix("##"))
    val enc = WordPiece.wpEncodeOf(corpus.select("word"), vocab).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for (w <- Seq("hello", "help", "hollow")) {
      assert(!enc(w).contains("[UNK]"), s"$w must be covered by its own training charset")
      assert(enc(w).map(_.stripPrefix("##")).mkString == w, s"$w -> ${enc(w)}")
    }
    // more merges can only shorten or keep segmentations
    val encBase = WordPiece.wpEncodeOf(corpus.select("word"),
      chars ++ chars.map("##" + _)).groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (w <- Seq("hello", "help", "hollow"))
      assert(enc(w).length <= encBase(w), s"$w grew under the trained vocab")
  }

  test("encode gate grid holds at sf0.001 (verdicts true, unk counts consistent)") {
    val rows = WordPiece.wpEncodeGate(t).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"reconstruct_ok false in bucket ${r.getLong(0)}")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
    }
    // cross-derive n_unk the oracle's way (char-coverage regex) and
    // compare against the matcher-earned numbers
    val viaRegex = graft.operators.WordPipeline.tokens(t)
      .select(col("word")).distinct()
      .groupBy(least(length(col("word")), lit(5)).cast("long").as("len_bucket"))
      .agg(sum(when(col("word").rlike("[^a-pr-y]"), 1L).otherwise(0L)).as("n_unk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) == viaRegex(r.getLong(0)),
        s"bucket ${r.getLong(0)}: matcher says ${r.getLong(2)} unk, coverage rule says ${viaRegex(r.getLong(0))}")
    }
  }

  test("dedup_url keeps the longest capture per fetch identity (ties: smallest doc_id)") {
    val kept = graft.operators.Curate.dedupUrl(t).collect()
    assert(kept.nonEmpty)
    // re-derive each group's winner from the same planted manifest
    val groups = graft.operators.Curate.urlCanonicalize(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.length == groups.size, "one kept row per canonical url")
    kept.foreach { r =>
      assert(r.getLong(3) == groups(r.getString(0)), s"variant count mismatch at ${r.getString(0)}")
    }
    // winner dominance: no doc in the full manifest beats its kept row
    val spark2 = spark
    import spark2.implicits._
    val all = graft.operators.Curate.dedupUrl(t)
      .select(col("canonical_url"), col("kept_doc"), col("kept_len"))
    val manifest = t.documents.select(col("doc_id"), length(col("text")).cast("long").as("l"))
    val joined = graft.operators.Curate.urlCanonicalize(t) // warm path only
    assert(joined.count() == all.count())
    val beaten = all.as[(String, Long, Long)].collect().filter { case (_, doc, len) =>
      manifest.filter(col("doc_id") === doc).head().getLong(1) != len
    }
    assert(beaten.isEmpty, s"kept_len disagrees with the document table: ${beaten.take(3).mkString(",")}")
  }

  test("q_mix_epochs: caps bite, shares renormalize, plan is arithmetic-consistent") {
    val rows = graft.operators.Curate.mixEpochs(t, alpha = 0.1,
      budgetEpochs = 10.0, maxEpochs = 2.0).collect()
    assert(rows.nonEmpty)
    val tShares = rows.map(_.getDouble(2)).sum
    val aShares = rows.map(_.getDouble(5)).sum
    assert(math.abs(tShares - 1.0) < 1e-6, s"target shares sum to $tShares")
    assert(math.abs(aShares - 1.0) < 1e-3, s"achieved shares sum to $aShares")
    rows.foreach { r =>
      val (n, epochs, achieved) = (r.getLong(1), r.getDouble(3), r.getLong(4))
      assert(epochs <= 2.0 + 1e-9, s"${r.getString(0)} exceeds the epoch cap: $epochs")
      assert(math.abs(achieved - epochs * n) <= 0.5 + 1e-6,
        s"achieved_tokens must be round(epochs*n): $achieved vs ${epochs * n}")
    }
    // a flat-temperature near-uniform target over skewed sources forces
    // the cap onto small sources at this budget
    assert(rows.exists(_.getDouble(3) >= 2.0 - 1e-9), "no source hit the cap — parameters too lax")
    // epochs monotone non-increasing in source size (share ∝ n^0.1)
    val byN = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
    assert(byN.zip(byN.tail).forall { case (a, b) => a >= b - 1e-9 },
      "repetition must favor small sources under temperature flattening")
  }
}
