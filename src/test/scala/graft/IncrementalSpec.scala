package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bpe, Incremental}
import graft.sources.Tables

/** Unit semantics for the round-9 incremental/tokenizer operators —
  * the hash gate proves engine parity on derived data; these pin the
  * SEMANTICS on hand-built cases.
  */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mergeUpsertOf: insert, update, delete, and later-seq override") {
    val base = Seq((1L, "en", "s", 10L), (2L, "en", "s", 20L), (3L, "en", "s", 30L))
      .toDF("doc_id", "lang", "source", "n_chars")
    val changes = Seq(
      (2L, 1L, "u", "en", "s", 21L),  // update
      (3L, 1L, "d", "en", "s", 0L),   // delete
      (4L, 1L, "u", "de", "s", 40L),  // insert (not in base)
      (4L, 2L, "d", "de", "s", 0L),   // ...then deleted in the same log
      (5L, 1L, "d", "fr", "s", 0L),   // delete of a key base never had
      (5L, 2L, "u", "fr", "s", 50L))  // ...resurrected by a later seq
      .toDF("doc_id", "seq", "op", "lang", "source", "n_chars")
    val got = Incremental.mergeUpsertOf(base, changes).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toList
    assert(got == List((1L, 10L), (2L, 21L), (5L, 50L)))
  }

  test("bpeTrain: the classic low/lower/newest corpus learns the hand-derived merge table") {
    // 5x "low", 2x "lower", 6x "newest". Round 1: (w,e) = 2 (lower) +
    // 6 (newest) = 8 — the max. Round 2: (l,o) = 7. Round 3: all the
    // newest-family pairs sit at 6; lexicographic tie-break picks
    // (e,we) ("e" < "n" < "s" < "we"). Round 4: after e+we → ewe,
    // (ewe,s) wins the 6-tie the same way.
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++ Seq.fill(6)("newest")).mkString(" ")
    val dir = TestSpark.tempDir("bpe").toString
    Seq((1L, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val merges = Bpe.bpeTrain(Tables(spark, dir), merges = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(merges == List(
      (1L, "w", "e", 8L),
      (2L, "l", "o", 7L),
      (3L, "e", "we", 6L),
      (4L, "ewe", "s", 6L)), merges.toString)
  }

  test("bpeTrainBatched == bpeTrain merge-for-merge; rounds saved where safety allows") {
    // The real corpus: 24 merges batched vs sequential must agree on
    // every (rank, lhs, rhs, pair_freq) row — the equivalence the
    // batching rules (disjoint prefix incl. composed symbols, conflict
    // stop, strict 2×-ceiling truncation) guarantee by construction.
    // On natural text those rules batch ~1 merge/round (top pairs
    // share symbols) — correctness is the claim here; round SAVINGS
    // are asserted on the independent-pair corpus below and carried
    // in production by bpeTrainFast/bpeTrainLocal.
    val t = Tables(spark, TestSpark.sf)
    val seqM = Bpe.bpeTrain(t, merges = 24).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    val (batDf, rounds) = Bpe.bpeTrainBatchedWithRounds(t, merges = 24)
    val batM = batDf.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(batM == seqM, s"batched diverged from sequential:\nbat=$batM\nseq=$seqM")
    assert(rounds <= 24, s"more rounds than merges: $rounds")
    // independent alphabets: nothing conflicts, so the exact form DOES
    // batch — 4 merges in one round, still sequential-identical
    val text = (Seq.fill(9)("abab") ++ Seq.fill(8)("cdcd") ++
      Seq.fill(7)("efef") ++ Seq.fill(6)("ghgh")).mkString(" ")
    val dir = TestSpark.tempDir("bpebatchind").toString
    Seq((1L, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val tt = Tables(spark, dir)
    val (indDf, indRounds) = Bpe.bpeTrainBatchedWithRounds(tt, merges = 4)
    val indSeq = Bpe.bpeTrain(tt, merges = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(indDf.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList == indSeq)
    assert(indRounds == 1, s"independent pairs should batch in one round, took $indRounds")
  }

  test("bpeTrainBatched survives the adversarial conflict/tie corpus") {
    // Engineered so round 1's top pairs CONFLICT (share symbols) and a
    // merged pair's successor ties a disjoint pair's frequency: "ababab"
    // words make (a,b) and (b,a) (conflict on both symbols) dominate,
    // and "x y z" words make (x,y)/(y,z) conflict at equal frequency.
    // Batched must fall back to near-sequential behavior here and still
    // match the sequential table exactly.
    val text = (Seq.fill(9)("ababab") ++ Seq.fill(7)("xyz") ++ Seq.fill(7)("qrs")).mkString(" ")
    val dir = TestSpark.tempDir("bpeadv").toString
    Seq((1L, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val tt = Tables(spark, dir)
    val seqM = Bpe.bpeTrain(tt, merges = 6).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    val batM = Bpe.bpeTrainBatched(tt, merges = 6).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(batM == seqM, s"batched diverged on adversarial corpus:\nbat=$batM\nseq=$seqM")
    // the round-5 cut taken reliably (checkpoint dir set) changes nothing
    TestSpark.withCheckpointDir("bpeadv-ckpt") { ckpt =>
      val relM = Bpe.bpeTrain(tt, merges = 6).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
      assert(relM == seqM, s"reliable cut diverged:\nrel=$relM\nseq=$seqM")
      assert(TestSpark.anyFile(ckpt), "no reliable checkpoint written")
    }
  }

  test("bpeTrainFast: sequential-identical on an independent-pair corpus; sublinear rounds + near-sequential encode quality on the real one") {
    // planted corpus: four words over DISJOINT alphabets, so no two top
    // pairs ever share a symbol — greedy-MIS batching must reproduce
    // the sequential table exactly here
    val text = (Seq.fill(9)("abab") ++ Seq.fill(8)("cdcd") ++
      Seq.fill(7)("efef") ++ Seq.fill(6)("ghgh")).mkString(" ")
    val dir = TestSpark.tempDir("bpefast").toString
    Seq((1L, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val tt = Tables(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    val (fastDf, fastRounds) = Bpe.bpeTrainFastWithRounds(tt, merges = 4, maxBatch = 8)
    assert(rows(fastDf) == rows(Bpe.bpeTrain(tt, merges = 4)),
      "fast trainer diverged on the independent-pair corpus")
    assert(fastRounds == 1, s"4 independent merges should batch in 1 round, took $fastRounds")

    // real corpus: rounds must be genuinely sublinear (the exact form
    // measures ~1 merge/round here), and the trained table must encode
    // about as well as the sequential table — the documented trade
    val t = Tables(spark, TestSpark.sf)
    val (fast24, r24) = Bpe.bpeTrainFastWithRounds(t, merges = 24, maxBatch = 8)
    assert(r24 <= 8, s"expected <= 24/8 + slack rounds, took $r24")
    def quality(table: org.apache.spark.sql.DataFrame): Double = {
      val merges = table.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.bpeEncodeOf(t.documents, merges)
        .agg(avg(col("tokens_per_word"))).head().getDouble(0)
    }
    val qFast = quality(fast24)
    val qSeq  = quality(Bpe.bpeTrain(t, merges = 24))
    assert(qFast <= qSeq * 1.05,
      s"fast table encodes >5% worse than sequential: $qFast vs $qSeq")
  }

  test("bpeTrainLocal == bpeTrain at 24 merges; handles the replace skip-quirk and re-picked pairs") {
    val t = Tables(spark, TestSpark.sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(rows(Bpe.bpeTrainLocal(t, merges = 24)) == rows(Bpe.bpeTrain(t, merges = 24)),
      "in-memory trainer diverged from the distributed sequential form on the real corpus")
    // "ababab": the literal-replace semantics leave alternate (a,b)
    // occurrences unmerged each pass (the consumed-delimiter quirk), so
    // the SAME pair is legitimately re-picked across rounds — the
    // in-memory queue must reproduce both the quirk and the re-pick
    val text = (Seq.fill(9)("ababab") ++ Seq.fill(2)("xy")).mkString(" ")
    val dir = TestSpark.tempDir("bpelocal").toString
    Seq((1L, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val tt = Tables(spark, dir)
    val seqM = rows(Bpe.bpeTrain(tt, merges = 6))
    val locM = rows(Bpe.bpeTrainLocal(tt, merges = 6))
    assert(locM == seqM, s"quirk corpus diverged:\nloc=$locM\nseq=$seqM")
    // the guard: a vocabulary over maxVocab must fail loudly, naming
    // the distributed alternatives, never silently collect
    val e = intercept[IllegalArgumentException] {
      Bpe.bpeTrainLocal(t, merges = 4, maxVocab = 10L)
    }
    assert(e.getMessage.contains("bpeTrainFast"), e.getMessage)
  }

  test("stratifiedSample: never more than n per stratum; deterministic across runs") {
    val t = Tables(spark, TestSpark.sf)
    val a = Incremental.stratifiedSample(t, n = 7).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = Incremental.stratifiedSample(t, n = 7).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(a.toList == b.toList)
    val perStratum = a.groupBy(_._1).view.mapValues(_.length)
    assert(perStratum.values.forall(_ <= 7), perStratum.toMap.toString)
    // ranks contiguous from 1 within each stratum
    a.groupBy(_._1).foreach { case (s, rows) =>
      assert(rows.map(_._2).sorted.toList == (1L to rows.length).toList, s)
    }
  }

  test("expectations: violations actually flip pass flags") {
    val dir = TestSpark.tempDir("expect").toString
    Seq(
      (1L, "hello there", "en", "s0", 11L),
      (1L, "dup id", "en", "s0", 6L),        // uniqueness violation
      (2L, null.asInstanceOf[String], "xx", "s1", 0L)) // null text + bad lang
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = Incremental.expectations(Tables(spark, dir)).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(!got("completeness_text_source"))
    assert(!got("uniqueness_doc_id"))
    assert(!got("domain_lang"))
    assert(got("consistency_n_chars"), got.toString) // the two non-null rows are consistent
  }

  test("scd2: all four merge cases on a planted dimension, history untouched") {
    // dim: k1 current A (+ closed history A0), k2 current B, k3 current C
    // snapshot: k1→A (unchanged), k2→B' (changed), k3 absent, k4→D (new)
    val dim = Seq(
      (1L, "A0", "1994-01-01", "1995-01-01", false),
      (1L, "A", "1995-01-01", null, true),
      (2L, "B", "1995-01-01", null, true),
      (3L, "C", "1995-01-01", null, true))
      .toDF("key", "attr", "vf", "vt", "is_current")
      .select(col("key"), col("attr"), col("vf").cast("date").as("valid_from"),
        col("vt").cast("date").as("valid_to"), col("is_current"))
    val snap = Seq((1L, "A"), (2L, "B2"), (4L, "D")).toDF("key", "attr")
    val got = graft.operators.Incremental.scd2Of(dim, snap, "1996-06-01").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("attr"),
        String.valueOf(r.getAs[java.sql.Date]("valid_from")),
        String.valueOf(r.getAs[java.sql.Date]("valid_to")),
        r.getAs[Boolean]("is_current"))).toSet
    assert(got == Set(
      (1L, "A0", "1994-01-01", "1995-01-01", false), // history rode through
      (1L, "A", "1995-01-01", "null", true),         // unchanged stays open
      (2L, "B", "1995-01-01", "1996-06-01", false),  // changed closes
      (2L, "B2", "1996-06-01", "null", true),        //   ...and reopens
      (3L, "C", "1995-01-01", "1996-06-01", false),  // absent closes
      (4L, "D", "1996-06-01", "null", true)),        // new key opens
      s"got $got")
  }

  test("scd2 gated form: exactly one current row per live key; ranges per key chain without overlap") {
    val rows = graft.operators.Incremental.mergeScd2(Tables(spark, TestSpark.sf)).collect()
      .map(r => (r.getAs[Long]("key"), String.valueOf(r.getAs[java.sql.Date]("valid_from")),
        String.valueOf(r.getAs[java.sql.Date]("valid_to")), r.getAs[Boolean]("is_current")))
    val byKey = rows.groupBy(_._1)
    byKey.foreach { case (k, vs) =>
      val current = vs.count(_._4)
      assert(current <= 1, s"key $k has $current current rows")
      // open row iff is_current; closed rows have valid_to
      vs.foreach { case (_, _, vt, cur) => assert(cur == (vt == "null")) }
      // versions chain: sort by valid_from; each closed row's valid_to
      // <= successor's valid_from (planted generations make it ==)
      val sorted = vs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, vt, _), (_, vf2, _, _)) if vt != "null" =>
          assert(vt <= vf2, s"key $k overlap: $vt > $vf2")
        case _ =>
      }
    }
    // every dropped key (key % 7 == 0) is fully closed
    byKey.filter { case (k, _) => k % 7 == 0 && k < 1000000 }.foreach { case (k, vs) =>
      assert(vs.forall(!_._4), s"dropped key $k still has a current row")
    }
  }
}
