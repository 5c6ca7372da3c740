package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Unigram-LM tokenizer training (the SentencePiece unigram model,
  * Kudo 2018) — the OTHER production subword family next to the BPE
  * quartet in [[Bpe]]: instead of greedy pair merges, keep a
  * probabilistic piece inventory and let Viterbi segmentation pick
  * the best decomposition; train by (hard-)EM, pruning the pieces
  * the segmentations stop using.
  *
  * The distributed boundary is the OPPOSITE of [[Bpe.bpeTrainLocal]]'s
  * — and that is the point of shipping both architectures: BPE's merge
  * loop is inherently sequential micro-steps (driver-local on the
  * Heaps-bounded vocabulary), while unigram EM is embarrassingly
  * parallel per word. So here the (word, freq) table STAYS distributed
  * (it may not fit a driver at 100 TB), the piece inventory — bounded
  * by `seedSize` + the corpus charset, by construction — is what
  * broadcasts, and each EM round is: one broadcast, one map-side
  * Viterbi pass over the word partitions, one map-side-combined piece
  * count, one ≤|pieces|-row collect. Rounds are FIXED and every
  * arithmetic path is exact-count-derived, so training is
  * deterministic run-to-run (spec-pinned); it is rows-only at the
  * gate like the other trained artifacts (no SQL twin for EM).
  */
object UnigramLm {

  /** Code-point symbols, not UTF-16 units — [[Bpe.bpeTrainLocal]]'s
    * supplementary-plane rule.
    */
  private[graft] def symbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Viterbi segmentation of `w` under piece log-probs `lp` (pieces
    * no longer than `maxLen` symbols). Deterministic tie rule: on
    * equal score prefer the segmentation whose LAST piece is longer
    * (i.e. the smaller split point wins ties). Every single symbol is
    * guaranteed in the inventory, so a path always exists.
    */
  private[graft] def segment(w: String, lp: collection.Map[String, Double],
      maxLen: Int): List[String] = {
    val s = symbols(w)
    val n = s.length
    if (n == 0) return Nil
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (best(j) > Double.NegativeInfinity) {
          val piece = s.slice(j, i).mkString
          lp.get(piece) match {
            case Some(p) =>
              val sc = best(j) + p
              // strict > keeps the SMALLEST j on ties (longer last piece)
              if (sc > best(i) || (sc == best(i) && (back(i) < 0 || j < back(i)))) {
                best(i) = sc; back(i) = j
              }
            case None =>
          }
        }
        j += 1
      }
      i += 1
    }
    require(back(n) >= 0, s"unsegmentable word '$w': missing single-symbol pieces")
    var acc: List[String] = Nil
    var k = n
    while (k > 0) {
      val j = back(k)
      acc = s.slice(j, k).mkString :: acc
      k = j
    }
    acc
  }

  /** Train on the corpus word-frequency table. Returns the final
    * inventory: (piece, n_syms, count, log_prob) ordered by
    * (count desc, piece) — `count` is the piece's Viterbi usage
    * (word-frequency-weighted) in the last E-step, `log_prob` its
    * ln(count/total) under that count.
    */
  def trainOf(words: DataFrame, targetVocab: Int = 120, seedSize: Int = 600,
      maxPieceLen: Int = 4, rounds: Int = 4, keepFrac: Double = 0.75): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val wf = words.select(col("word"), col("freq").cast("long"))
      .as[(String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- seed: substring counts (weighted by word freq), one
      // distributed pass; single symbols ALWAYS in, top multi-symbol
      // substrings up to seedSize by (count desc, piece)
      val subCounts = wf.flatMap { case (w, f) =>
        val s = symbols(w)
        for {
          i <- s.indices.iterator
          l <- 1 to math.min(maxPieceLen, s.length - i)
        } yield (s.slice(i, i + l).mkString, f)
      }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case (p, c) => (p, c) }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val chars = subCounts.filter(p => symbols(p._1).length == 1).collect()
      val multi = subCounts.filter(p => symbols(p._1).length > 1)
        .orderBy(col("_2").desc, col("_1")).limit(seedSize).collect()
      subCounts.unpersist(blocking = false)

      var inventory: Map[String, Long] = (chars ++ multi).toMap
      val charSet = chars.map(_._1).toSet

      // ---- EM rounds: broadcast log-probs, Viterbi-count, prune
      var round = 0
      while (round < rounds) {
        val total = inventory.valuesIterator.sum.toDouble
        val lp = inventory.map { case (p, c) => p -> math.log(c / total) }
        val bc = spark.sparkContext.broadcast(lp)
        val maxLen = maxPieceLen
        val counted = wf.flatMap { case (w, f) =>
          segment(w, bc.value, maxLen).iterator.map(p => (p, f))
        }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .map { case (p, c) => (p, c) }
          .collect()
        bc.destroy()
        val used = counted.toMap
        // drop multi-symbol pieces Viterbi stopped using; keep every
        // single symbol at its last nonzero count (coverage floor)
        var next = inventory.keysIterator.flatMap { p =>
          used.get(p) match {
            case Some(c) => Some(p -> c)
            case None => if (charSet(p)) Some(p -> 1L) else None
          }
        }.toMap
        // prune toward the target: keep all chars + the strongest
        // multi-symbol pieces by (count desc, piece), shrinking by
        // keepFrac per round but never below targetVocab
        val multiNow = next.view.filterKeys(p => !charSet(p)).toSeq
          .sortBy { case (p, c) => (-c, p) }
        val keepMulti = math.max(targetVocab - charSet.size,
          math.min(multiNow.size, (multiNow.size * keepFrac).toInt))
        next = next.view.filterKeys(charSet).toMap ++ multiNow.take(math.max(0, keepMulti))
        inventory = next
        round += 1
      }

      val total = inventory.valuesIterator.sum.toDouble
      inventory.toSeq
        .map { case (p, c) =>
          (p, symbols(p).length.toLong, c,
            math.rint(math.log(c / total) * 1e6) / 1e6)
        }
        .sortBy { case (p, _, c, _) => (-c, p) }
        .toDF("piece", "n_syms", "count", "log_prob")
    } finally wf.unpersist(blocking = false)
  }

  def train(t: Tables): DataFrame =
    trainOf(WordPipeline.tokens(t).groupBy("word").agg(count(lit(1)).as("freq")))

  /** Encode the corpus with a trained inventory: per word, its
    * Viterbi pieces in order — the application pass a tokenizer
    * exists for. Piece table broadcasts; the corpus streams.
    */
  def encodeOf(words: DataFrame, inventory: DataFrame,
      maxPieceLen: Int = 4): DataFrame =
    encodeRawOf(words, inventory, maxPieceLen).orderBy("word", "pos")

  /** [[encodeOf]] without the final total order — for consumers that
    * aggregate the pieces anyway (the gate), where the global sort
    * would survive below the aggregate (collect_list is
    * order-sensitive, so Catalyst cannot eliminate it) and shuffle
    * every (word, pos, piece) row just to discard the order.
    */
  private[graft] def encodeRawOf(words: DataFrame, inventory: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val lp = inventory.select(col("piece"), col("log_prob"))
      .as[(String, Double)].collect().toMap
    val bc = spark.sparkContext.broadcast(lp)
    words.select(col("word")).distinct().as[String]
      .flatMap { w =>
        segment(w, bc.value, maxPieceLen).zipWithIndex.map {
          case (p, i) => (w, i.toLong, p)
        }
      }
      .toDF("word", "pos", "piece")
  }

  /** HASH-GATED verdict grid for the trainer (r13: the EM-derived
    * piece counts stay a library artifact — [[trainOf]], determinism
    * and pruning pinned in UnigramLmSpec). The grid gates the
    * invariants that DEFINE a usable inventory:
    *   - `charset_coverage`: every distinct corpus symbol is present
    *     as a single-symbol piece (the coverage floor — without it
    *     Viterbi has unsegmentable words).
    *   - `counts_consistent`: every count is positive and each row's
    *     log_prob is exactly rint(ln(count/total)·1e6)/1e6 under the
    *     final counts (recomputed from the table itself).
    *   - `logprob_normalized`: Σ exp(log_prob) = 1 within 1e-3 (the
    *     per-piece 1e-6 rounding compounds well under that).
    *   - `vocab_bounded`: |inventory| ≤ |charset| + seedSize (the
    *     construction bound that makes the broadcast safe at 100 TB).
    * The inventory collect is bounded by that same seed+charset bound;
    * the corpus-symbol set is one distributed distinct over symbols.
    * Oracle re-derives the fixed check grid.
    */
  def trainGate(t: Tables, seedSize: Int = 600): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    // ONE materialization of the word-frequency table (Heaps-bounded:
    // distinct words, not corpus rows) — otherwise the tokenize scan +
    // aggregate execute once inside trainOf's persist AND once more
    // for the charset pass below.
    val words = WordPipeline.tokens(t).groupBy("word").agg(count(lit(1)).as("freq"))
      .transform(Lineage.cut)
    val inv = trainOf(words, seedSize = seedSize)
      .select(col("piece"), col("count").cast("long"), col("log_prob"))
      .as[(String, Long, Double)].collect()
    val corpusChars = words.select(col("word")).as[String]
      .flatMap(w => symbols(w).iterator).distinct().collect().toSet
    val invSet = inv.map(_._1).toSet
    val charsetOk = corpusChars.forall(invSet.contains)
    val total = inv.map(_._2).sum.toDouble
    val countsOk = inv.forall { case (_, c, lp) =>
      c > 0 && lp == math.rint(math.log(c / total) * 1e6) / 1e6
    }
    val normOk = math.abs(inv.map(r => math.exp(r._3)).sum - 1.0) <= 1e-3
    val boundOk = inv.length <= corpusChars.size + seedSize
    spark.createDataset(Seq(
      ("charset_coverage", charsetOk),
      ("counts_consistent", countsOk),
      ("logprob_normalized", normOk),
      ("vocab_bounded", boundOk)
    )).toDF("check_name", "ok").orderBy("check_name")
  }

  val trainGateSql: String =
    """SELECT * FROM (VALUES ('charset_coverage', true), ('counts_consistent', true),
      |  ('logprob_normalized', true), ('vocab_bounded', true)) t(check_name, ok)
      |ORDER BY check_name""".stripMargin

  /** HASH-GATED verdict grid for the encoder (r13: the Viterbi pieces
    * themselves depend on the trained inventory — library artifact).
    * Per word-length bucket (codepoints, capped at 5 — both engines
    * count codepoints), over every distinct corpus word encoded under
    * the freshly trained inventory:
    *   - `reconstruct_ok`: the pieces, concatenated in `pos` order,
    *     rebuild the word EXACTLY (full-corpus reconstruction — a
    *     wrong slice, dropped piece, or inventory/charset hole all
    *     break it).
    *   - `compress_ok`: piece count ≤ symbol count per word (Viterbi
    *     can never do worse than the char split; a violation means
    *     the segmentation emitted phantom pieces).
    * The rebuild is one groupBy over (word, pos, piece) rows with an
    * array_sort — no window, no driver loop; the oracle re-derives the
    * bucket grid from the same tokenizer CTE the tok_words gate uses.
    */
  def encodeGate(t: Tables): DataFrame = {
    // same single-materialization rationale as [[trainGate]]: trainOf
    // and the encode pass both read the word table; unordered encode
    // because the groupBy below discards any order (plan otherwise
    // keeps the range exchange + sort under the aggregate)
    val words = WordPipeline.tokens(t).groupBy("word").agg(count(lit(1)).as("freq"))
      .transform(Lineage.cut)
    val enc = encodeRawOf(words, trainOf(words))
    enc.groupBy(col("word"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("piece")))),
          x => x.getField("piece")), "").as("rebuilt"),
        count(lit(1)).as("n_pieces"))
      .select(
        least(length(col("word")), lit(5)).cast("long").as("len_bucket"),
        (col("rebuilt") === col("word")).as("rok"),
        (col("n_pieces") <= length(col("word")).cast("long")).as("cok"))
      .groupBy(col("len_bucket"))
      .agg(min(col("rok")).as("reconstruct_ok"), min(col("cok")).as("compress_ok"))
      .orderBy("len_bucket")
  }

  val encodeGateSql: String =
    s"""${WordPipeline.tokensCte}
       |SELECT LEAST(length(word), 5) AS len_bucket, true AS reconstruct_ok,
       |  true AS compress_ok
       |FROM (SELECT DISTINCT word FROM toks)
       |GROUP BY 1 ORDER BY len_bucket""".stripMargin
}
