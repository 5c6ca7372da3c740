package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads plus typed metadata, processed per-partition in batches.
  *
  * The Spark-side mechanics — schema, partitioning, batch iteration,
  * feature-column shapes — are real and tested; the actual media
  * decode is STUBBED (no codec libraries in this environment) behind
  * [[StubDecoder]], a deterministic fake keyed on payload bytes. A
  * production deployment swaps the decoder body; nothing else changes.
  */
object Multimodal {

  final case class MediaMeta(kind: String, width: Int, height: Int, durationMs: Long)
  final case class Media(media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long, features: Array[Float])

  /** Build a media table from the documents corpus (payload = utf-8
    * bytes of text — a stand-in binary column with realistic sizes).
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          (col("n_chars") % 1920).cast("int").as("width"),
          (col("n_chars") % 1080).cast("int").as("height"),
          (col("n_chars") * 40).as("durationMs")).as("meta"))
      .as[Media]
  }

  /** Pluggable media decoder — the structural seam a production build
    * fills with a real codec (JNI, ffmpeg binding, image library). The
    * implementation class is resolved per job from the Spark conf key
    * [[Decoder.ConfKey]] and instantiated once per partition on the
    * executor (reflection needs a public no-arg constructor), with
    * open()/close() bracketing the partition so a codec context is
    * opened once per task, not once per row. close() runs from a task
    * completion listener, so it fires on failure paths too.
    */
  trait Decoder extends Serializable {
    /** Per-partition init: open the codec context. */
    def open(): Unit = ()
    /** Decode one payload into a fixed-width feature vector. */
    def decode(kind: String, payload: Array[Byte]): Array[Float]
    /** Per-partition teardown (also invoked when the task fails). */
    def close(): Unit = ()
  }

  object Decoder {
    val ConfKey = "spark.graft.multimodal.decoder"
    def resolve(className: String): Decoder = {
      // Resolve against the thread context classloader: a decoder
      // shipped via --jars / spark.jars is visible only through the
      // executor's MutableURLClassLoader (set as the task thread's
      // context loader), not through the loader that defined this
      // class. Fall back for threads without one.
      val loader = Option(Thread.currentThread().getContextClassLoader)
        .getOrElse(getClass.getClassLoader)
      Class.forName(className, true, loader)
        .getDeclaredConstructor().newInstance().asInstanceOf[Decoder]
    }
  }

  /** STUB decode: the default [[Decoder]]. The deterministic fake
    * hashes payload bytes into a fixed-width feature vector so shapes,
    * partitioning and downstream joins are fully exercised without
    * codec libraries in the environment.
    */
  object StubDecoder {
    val FeatureDim = 8
    def decode(payload: Array[Byte]): Array[Float] = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(payload)
      Array.tabulate(FeatureDim)(i => (md(i * 2) & 0xff).toFloat / 255f)
    }
  }

  /** Reflection-instantiable form of [[StubDecoder]] (the conf default). */
  final class StubDecoder extends Decoder {
    override def decode(kind: String, payload: Array[Byte]): Array[Float] =
      StubDecoder.decode(payload)
  }

  /** Per-partition batched feature extraction — the mapInPandas shape
    * in Scala: one decoder init per partition, streamed rows, typed
    * output schema. The decoder class is read from the session conf on
    * the driver (so the PLAN carries the choice — executors never read
    * conf) and instantiated inside each task.
    */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    val decoderClass =
      media.sparkSession.conf.get(Decoder.ConfKey, classOf[StubDecoder].getName)
    media.mapPartitions { rows =>
      val dec = Decoder.resolve(decoderClass)
      dec.open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => dec.close()))
      rows.map { m =>
        MediaFeatures(m.media_id, m.kind, m.payload.length.toLong, dec.decode(m.kind, m.payload))
      }
    }
  }

  /** Driver-gated form of the DECODE plane: media table → the real
    * [[extractFeatures]] seam (conf-resolved Decoder, typed Dataset,
    * mapPartitions) → exploded per-cell features. Because the stub
    * decoder is deterministic md5 arithmetic, the oracle can recompute
    * every cell in SQL — so the hash gate covers the whole typed
    * plumbing path (encoders, per-partition decoder lifecycle, batch
    * iteration), not just column math. Float b/255f carries ~6e-8
    * error, enough to cross a 6dp rounding boundary (131/255 does) —
    * so the projection first recovers the exact byte (round(f·255) is
    * exact at this magnitude) and redoes the division in DOUBLE,
    * making the emitted value bit-identical to the oracle's.
    */
  def featuresQuery(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaFromDocuments(spark, dir))
      .toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("i", "f")))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("i").cast("long").as("i"),
        round(round(col("f").cast("double") * 255) / 255.0, 6).as("f"))
      .orderBy("media_id", "i")

  val featuresSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |    strlen(text) AS n_bytes,
      |    md5(text) AS h
      |  FROM documents
      |)
      |SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes, i,
      |  round(CAST(('0x' || substr(h, i * 4 + 1, 2))::INT AS DOUBLE) / 255.0, 6) AS f
      |FROM m, (SELECT unnest(range(0, 8)) AS i)
      |ORDER BY media_id, i""".stripMargin

  /** Metadata-only resize plan: pure column math, no payload reads —
    * at scale this never touches the (huge) binary column thanks to
    * parquet column pruning.
    */
  def resizePlan(media: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(
      lit(maxDim).cast("double") / greatest(col("meta.width"), lit(1)),
      lit(maxDim).cast("double") / greatest(col("meta.height"), lit(1)), lit(1.0))
    media.select(
      col("media_id"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      round(col("meta.width") * scale).cast("int").as("new_width"),
      round(col("meta.height") * scale).cast("int").as("new_height"))
  }

  /** Driver-gated form of the metadata plane: media table from
    * documents → resize plan, deterministic order. Everything here is
    * column math on metadata — the binary payload is never read, which
    * is exactly the property that matters at 100 TB.
    */
  def resizeQuery(spark: SparkSession, dir: String, maxDim: Int = 64): DataFrame =
    resizePlan(mediaFromDocuments(spark, dir).toDF(), maxDim)
      .orderBy("media_id")

  def resizeQuerySql(maxDim: Int = 64): String =
    s"""WITH media AS (
       |  SELECT doc_id AS media_id,
       |    CAST(n_chars % 1920 AS INT) AS width,
       |    CAST(n_chars % 1080 AS INT) AS height
       |  FROM documents
       |), s AS (
       |  SELECT media_id, width, height,
       |    least($maxDim.0 / greatest(width, 1), $maxDim.0 / greatest(height, 1), 1.0) AS scale
       |  FROM media
       |)
       |SELECT media_id, width, height,
       |  CAST(round(width * scale) AS INT) AS new_width,
       |  CAST(round(height * scale) AS INT) AS new_height
       |FROM s ORDER BY media_id""".stripMargin

  /** Frame-sampling plan for video rows: one row per sampled frame
    * index at `fps` — sequence+explode, no decode until a downstream
    * stage asks for pixels.
    */
  def frameSamplePlan(media: DataFrame, fps: Double = 1.0): DataFrame =
    media
      .filter(col("kind") === "video")
      .select(col("media_id"), col("meta.durationMs").as("duration_ms"))
      .withColumn("frame_ms",
        explode(sequence(lit(0L), col("duration_ms"), lit(math.max(1, (1000 / fps).toLong)))))

  /** Video keyframe join: every sampled frame (1 fps) matched to its
    * governing keyframe (0.2 fps) — the shape of "decode this frame
    * relative to the last I-frame". Both grids come from
    * [[frameSamplePlan]]; the match is the library's own composed
    * as-of join, gated against DuckDB's NATIVE ASOF JOIN — an
    * independent engine implementation of the same semantics. Pure
    * metadata math: the binary payload is never scanned.
    */
  def keyframesQuery(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaFromDocuments(spark, dir).toDF()
    def grid(fps: Double) = frameSamplePlan(media, fps)
      .select(col("media_id").as("key"), col("frame_ms").as("ts"), col("frame_ms").as("id"))
    graft.operators.AsOf.asofJoin(grid(1.0), grid(0.2))
      .select(col("key").as("media_id"), col("ts").as("frame_ms"),
        col("right_ts").as("keyframe_ms"))
      .orderBy("media_id", "frame_ms")
  }

  val keyframesSql: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id, n_chars * 40 AS duration_ms
      |  FROM documents WHERE doc_id % 3 = 2
      |), f AS (
      |  SELECT media_id, unnest(range(0, duration_ms + 1, 1000)) AS frame_ms FROM v
      |), k AS (
      |  SELECT media_id, unnest(range(0, duration_ms + 1, 5000)) AS keyframe_ms FROM v
      |)
      |SELECT f.media_id AS media_id, f.frame_ms, k.keyframe_ms
      |FROM f ASOF JOIN k ON f.media_id = k.media_id AND f.frame_ms >= k.keyframe_ms
      |ORDER BY f.media_id, frame_ms""".stripMargin

  /** Audio analysis windows: overlapping `winMs` windows every `hopMs`
    * over each audio row's duration, with a per-window energy from the
    * stub decode seam (md5 of media_id:start — deterministic and
    * engine-portable, so the WHOLE pipeline including the stub is
    * oracle-gated; a real deployment swaps the energy expression for a
    * decoded-PCM aggregate and nothing else changes). Window
    * generation is sequence+explode on metadata — no payload scan.
    */
  def audioWindowsQuery(spark: SparkSession, dir: String,
      winMs: Long = 1000L, hopMs: Long = 500L): DataFrame =
    mediaFromDocuments(spark, dir).toDF()
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("meta.durationMs").as("duration_ms"))
      .withColumn("win_start",
        explode(sequence(lit(0L), greatest(col("duration_ms") - 1, lit(0L)), lit(hopMs))))
      .select(
        col("media_id"),
        col("win_start"),
        least(col("win_start") + winMs, col("duration_ms")).as("win_end"),
        round(conv(substring(md5(concat_ws(":", col("media_id"), col("win_start"))), 1, 8), 16, 10)
          .cast("long") / 4294967296.0, 6).as("energy"))
      .orderBy("media_id", "win_start")

  def audioWindowsSql(winMs: Long = 1000L, hopMs: Long = 500L): String =
    s"""WITH a AS (
       |  SELECT doc_id AS media_id, n_chars * 40 AS duration_ms
       |  FROM documents WHERE doc_id % 3 = 1
       |), w AS (
       |  SELECT media_id, duration_ms,
       |    unnest(range(0, greatest(duration_ms - 1, 0) + 1, $hopMs)) AS win_start
       |  FROM a
       |)
       |SELECT media_id, win_start,
       |  least(win_start + $winMs, duration_ms) AS win_end,
       |  round(('0x' || substr(md5(media_id || ':' || win_start), 1, 8))::BIGINT / 4294967296.0, 6) AS energy
       |FROM w ORDER BY media_id, win_start""".stripMargin

  /** Perceptual-hash image near-dup search: each image reduces to a
    * 60-bit pHash (downsampled luma grid → above/below-mean bits), and
    * similar images rank by Hamming distance to a query image — the
    * visual twin of SimHash text dedup. The luma grid is the decode
    * seam: here it's the deterministic md5 fake (cell = one hashed
    * byte, portable to the oracle), a production build feeds real 8×8
    * luma from the codec. Shape notes for 100 TB: the hash build is
    * one scan with in-expression folds (no explode — cells never leave
    * the projection), the query hash is a broadcast single row, and
    * ranking is a TakeOrdered top-k. Exact-dup grouping on phash and
    * banded-LSH over hash prefixes compose with the Dedup operators
    * unchanged.
    */
  def phashQuery(spark: SparkSession, dir: String, bits: Int = 60, k: Int = 50): DataFrame = {
    val ph = phashTable(spark, dir, bits)
    val q = ph.filter(col("media_id") === 0).select(col("phash").as("qhash"))
    ph.crossJoin(broadcast(q))
      .filter(col("media_id") =!= 0)
      .select(col("media_id"), col("phash"),
        bit_count(col("phash").bitwiseXOR(col("qhash"))).cast("long").as("hamming"))
      .orderBy(col("hamming"), col("media_id"))
      .limit(k)
  }

  /** Corpus-wide pHash near-dup pairs via BANDED Hamming join — the
    * all-pairs form [[phashQuery]]'s single-query ranking scales up to:
    * the 60-bit hash splits into 4 bands of 15 bits, candidates share
    * at least one full band, and only candidates pay the bit_count.
    * EXACT for maxDist ≤ 3 by pigeonhole: 3 differing bits can corrupt
    * at most 3 of 4 bands, so every qualifying pair collides somewhere
    * — the same band-join shape as MinHash-LSH but with a recall
    * GUARANTEE, because Hamming bands partition the bits instead of
    * sampling them. Shuffles carry (media_id, 8-byte band key) rows
    * only. Natural text-hash collisions at Hamming ≤ 3 are
    * astronomically rare, so the gate PLANTS near-dup variants (every
    * 7th media id re-hashed with one deterministically-flipped bit —
    * the thumbnail/re-encode case a crawl actually contains) and the
    * pair list must recover exactly them.
    */
  def phashDedupQuery(spark: SparkSession, dir: String, bits: Int = 60,
      bands: Int = 4, maxDist: Int = 3): DataFrame = {
    require(bits % bands == 0, s"bits $bits must split evenly into $bands bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val ph = phashTable(spark, dir, bits)
    val variants = ph.filter(col("media_id") % 7 === 0)
      .select((col("media_id") + 10000000L).as("media_id"),
        expr(s"phash ^ shiftleft(CAST(1 AS BIGINT), CAST(media_id % $bits AS INT))").as("phash"))
    // Lineage cut, not just an exchange: the self-join's inferred
    // not-null constraint on the band key substitutes through every
    // Project alias down to the scan, planting a filter that evaluates
    // the phash expression interpreted — with the inlined mean
    // aggregate re-run PER ZIP ELEMENT (60×60 md5 per row; measured
    // 50 s vs ~2 s at sf0.1). The cut truncates the plan to a
    // 16-byte-per-row leaf the constraint cannot push past, so the
    // hash build runs exactly once (reliable when a checkpoint dir is
    // set — pHash indexes are build-once artifacts anyway).
    val allm = ph.unionByName(variants).transform(Lineage.cut)
    val banded = allm.select(col("media_id"), col("phash"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), shiftright(col("phash"), b * width).bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bk"))
      .select(col("media_id"), col("phash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val left = banded.select(col("band"), col("key"), col("media_id").as("media_a"), col("phash").as("ph_a"))
    val right = banded.select(col("band"), col("key"), col("media_id").as("media_b"), col("phash").as("ph_b"))
    left.join(right, Seq("band", "key"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), col("ph_a"), col("ph_b"))
      .distinct()
      .select(col("media_a"), col("media_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .orderBy("media_a", "media_b")
  }

  /** The (media_id, phash) table shared by [[phashQuery]] and
    * [[phashDedupQuery]] — deterministic fake-decode seam, see
    * [[phashQuery]]'s doc.
    */
  private def phashTable(spark: SparkSession, dir: String, bits: Int): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cells = transform(sequence(lit(0), lit(bits - 1)),
      i => conv(substring(md5(concat(col("text"), lit("|"), i.cast("string"))), 1, 2), 16, 10)
        .cast("long"))
    docs
      .select(col("doc_id").as("media_id"), cells.as("cells"))
      .withColumn("mean",
        aggregate(col("cells"), lit(0L), (a, x) => a + x).cast("double") / lit(bits.toDouble))
      .withColumn("phash",
        aggregate(
          zip_with(col("cells"), sequence(lit(0), lit(bits - 1)), (c, i) =>
            when(c.cast("double") > col("mean"), pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
          lit(0L), (a, x) => a + x))
      .select(col("media_id"), col("phash"))
  }

  def phashDedupSql(bits: Int = 60, bands: Int = 4, maxDist: Int = 3): String = {
    val width = bits / bands
    val mask = (1L << width) - 1
    s"""WITH cells AS (
       |  SELECT doc_id AS media_id, i,
       |    ('0x' || substr(md5(text || '|' || CAST(i AS VARCHAR)), 1, 2))::BIGINT AS cell
       |  FROM documents, unnest(range(0, $bits)) r(i)
       |), m AS (
       |  SELECT media_id, CAST(sum(cell) AS BIGINT) / CAST($bits AS DOUBLE) AS mean
       |  FROM cells GROUP BY media_id
       |), ph AS (
       |  SELECT c.media_id,
       |    CAST(sum(CASE WHEN cell > mean THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS phash
       |  FROM cells c JOIN m USING (media_id) GROUP BY c.media_id
       |), allm AS (
       |  SELECT media_id, phash FROM ph
       |  UNION ALL
       |  SELECT media_id + 10000000, xor(phash, CAST(1 AS BIGINT) << CAST(media_id % $bits AS INT))
       |  FROM ph WHERE media_id % 7 = 0
       |), banded AS (
       |  SELECT media_id, phash, b AS band, (phash >> (b * $width)) & $mask AS key
       |  FROM allm, unnest(range(0, $bands)) r(b)
       |), cand AS (
       |  SELECT DISTINCT l.media_id AS media_a, r.media_id AS media_b,
       |    l.phash AS ph_a, r.phash AS ph_b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
       |  WHERE l.media_id < r.media_id
       |)
       |SELECT media_a, media_b, CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(ph_a, ph_b)) <= $maxDist
       |ORDER BY media_a, media_b""".stripMargin
  }

  def phashSql(bits: Int = 60, k: Int = 50): String =
    s"""WITH cells AS (
       |  SELECT doc_id AS media_id, i,
       |    ('0x' || substr(md5(text || '|' || CAST(i AS VARCHAR)), 1, 2))::BIGINT AS cell
       |  FROM documents, unnest(range(0, $bits)) r(i)
       |), m AS (
       |  SELECT media_id, CAST(sum(cell) AS BIGINT) / CAST($bits AS DOUBLE) AS mean
       |  FROM cells GROUP BY media_id
       |), ph AS (
       |  SELECT c.media_id,
       |    CAST(sum(CASE WHEN cell > mean THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS phash
       |  FROM cells c JOIN m USING (media_id) GROUP BY c.media_id
       |), q AS (SELECT phash AS qhash FROM ph WHERE media_id = 0)
       |SELECT media_id, phash, CAST(bit_count(xor(phash, qhash)) AS BIGINT) AS hamming
       |FROM ph CROSS JOIN q
       |WHERE media_id <> 0
       |ORDER BY hamming, media_id
       |LIMIT $k""".stripMargin

  // --------------------------------------- content-defined chunking

  /** Content-defined chunk dedup over binary payloads — the storage-
    * layer dedup a multimodal lake runs BEFORE any decode: boundaries
    * from [[graft.functions.CdcCutsExpr]] (rolling-hash cuts that
    * survive insertions, unlike fixed blocks), chunk spans and md5
    * digests via builtin binary substring/md5, then a per-kind rollup
    * of cross-blob chunk reuse (distinct digests, duplicated bytes,
    * the dedup ratio a chunk store would realize).
    *
    * Scale shape: cuts + digests are computed row-locally in ONE scan
    * (payload never leaves its partition, and is exploded/hashed
    * exactly once — everything but n_blobs derives from the digest-
    * level aggregate); only (kind, digest, len) triples —
    * ~n_bytes/div rows of ~50 bytes — shuffle, n_blobs is a payload-
    * pruned row count broadcast into the 3-row join. At 100 TB of
    * media this is scan-bound, which is the floor.
    */
  def cdcChunksQuery(spark: SparkSession, dir: String,
      window: Int = 8, base: Long = 31L, div: Long = 64L): DataFrame = {
    val media = mediaFromDocuments(spark, dir).toDF()
    val chunks = media
      .select(col("media_id"), col("kind"), col("payload"),
        graft.functions.CdcCutsExpr.cuts(col("payload"), window, base, div).as("ends"))
      .select(col("media_id"), col("kind"), col("payload"), col("ends"),
        posexplode(col("ends")).as(Seq("idx", "fin")))
      .select(col("media_id"), col("kind"), col("fin"),
        when(col("idx") === 0, lit(0))
          .otherwise(element_at(col("ends"), col("idx")) + 1).as("st"),
        col("payload"))
      .select(col("media_id"), col("kind"),
        (col("fin") - col("st") + 1).cast("long").as("clen"),
        md5(col("payload").substr(col("st") + 1, col("fin") - col("st") + 1)).as("digest"))
    // every rollup stat except n_blobs is derivable from the digest-
    // level table, so the payload is exploded and hashed exactly ONCE;
    // n_blobs is a payload-pruned row count (empty payloads — zero
    // chunks — still count as blobs in both engines)
    val rollup = chunks.groupBy(col("kind"), col("digest"))
      .agg(count(lit(1)).as("cnt"), first(col("clen")).as("clen"))
      .groupBy("kind").agg(
        sum(col("cnt").cast("decimal(18,0)")).cast("long").as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum((col("cnt") * col("clen")).cast("decimal(18,0)")).cast("long").as("total_bytes"),
        sum(((col("cnt") - 1) * col("clen")).cast("decimal(18,0)")).cast("long")
          .as("dup_bytes"))
    val blobs = media.groupBy("kind").agg(count(lit(1)).as("n_blobs"))
    rollup.join(broadcast(blobs), "kind")
      .select(col("kind"), col("n_blobs"), col("n_chunks"), col("n_distinct_chunks"),
        col("total_bytes"), col("dup_bytes"),
        round(col("total_bytes").cast("double") / col("n_chunks"), 6).as("mean_chunk_len"),
        round(col("dup_bytes").cast("double") / col("total_bytes"), 6).as("dedup_ratio"))
      .orderBy("kind")
  }

  /** Blob-level near-dup detection over CDC chunks — the reason the
    * chunking is content-defined: a mutated copy (here a planted
    * prefix insertion on every 7th blob, the re-upload/re-encode case
    * a crawl contains) keeps every chunk after the first realigned
    * boundary, so the pair surfaces through shared chunk digests where
    * fixed-size blocks would all shift. Pairs with byte containment
    * `shared_bytes / min(bytes_a, bytes_b) ≥ minContainment` are
    * emitted; within-blob repeated digests count min(cnt_a, cnt_b)
    * occurrences, so the accounting is exact, not set-approximate.
    *
    * Scale shape: the self-join keys on chunk digest — the
    * `dedup_containment` shape, with the same escape valve at corpus
    * scale (cap ubiquitous digests by df the way
    * `dedup_containment_capped` does; boilerplate chunks are exactly
    * stop-shingles at the byte layer). Payload bytes never join;
    * only (digest, media_id, cnt·len) rows shuffle.
    */
  def cdcDedupQuery(spark: SparkSession, dir: String,
      window: Int = 8, base: Long = 31L, div: Long = 64L,
      minContainment: Double = 0.5): DataFrame = {
    val media = mediaFromDocuments(spark, dir).toDF()
      .select(col("media_id"), col("payload"))
    val planted = media.filter(col("media_id") % 7 === 0)
      .select((col("media_id") + 10000000L).as("media_id"),
        concat(encode(concat(lit("inserted prefix "), col("media_id"), lit(" ")), "UTF-8"),
          col("payload")).as("payload"))
    val all = media.unionByName(planted)
    val chunks = all
      .select(col("media_id"), col("payload"),
        graft.functions.CdcCutsExpr.cuts(col("payload"), window, base, div).as("ends"))
      .select(col("media_id"), col("payload"), col("ends"),
        posexplode(col("ends")).as(Seq("idx", "fin")))
      .select(col("media_id"),
        when(col("idx") === 0, lit(0))
          .otherwise(element_at(col("ends"), col("idx")) + 1).as("st"),
        col("fin"), col("payload"))
      .select(col("media_id"), (col("fin") - col("st") + 1).cast("long").as("clen"),
        md5(col("payload").substr(col("st") + 1, col("fin") - col("st") + 1)).as("digest"))
    val perBlobDigest = chunks.groupBy(col("media_id"), col("digest"))
      .agg(count(lit(1)).as("cnt"), first(col("clen")).as("clen"))
    val blobBytes = perBlobDigest.groupBy("media_id")
      .agg(sum((col("cnt") * col("clen")).cast("decimal(18,0)")).cast("long").as("n_bytes"))
    val l = perBlobDigest.select(col("media_id").as("media_a"), col("digest"),
      col("cnt").as("cnt_a"), col("clen"))
    val r = perBlobDigest.select(col("media_id").as("media_b"), col("digest"),
      col("cnt").as("cnt_b"))
    val shared = l.join(r, "digest")
      .filter(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"))
      .agg(sum((least(col("cnt_a"), col("cnt_b")) * col("clen")).cast("decimal(18,0)"))
        .cast("long").as("shared_bytes"))
    shared
      .join(blobBytes.withColumnRenamed("media_id", "media_a")
        .withColumnRenamed("n_bytes", "bytes_a"), "media_a")
      .join(blobBytes.withColumnRenamed("media_id", "media_b")
        .withColumnRenamed("n_bytes", "bytes_b"), "media_b")
      .withColumn("containment",
        round(col("shared_bytes").cast("double") / least(col("bytes_a"), col("bytes_b")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("media_a"), col("media_b"), col("shared_bytes"), col("containment"))
      .orderBy("media_a", "media_b")
  }

  /** Shared oracle CTE chain m → codes → ends → chunks → digests (the
    * `urlCanonCte` pattern): ONE definition of the byte/rolling-hash/
    * cut/digest mirror so the two CDC twins cannot drift apart.
    * `mBody` must select `media_id` and `text`; `carry` columns pass
    * through every stage (the rollup twin threads `kind`).
    */
  // NOTE: this helper returns ALREADY-stripped text that callers embed
  // inside their own stripMargin literals — so no line of its output
  // (or of an mBody) may BEGIN with '|' after stripping, or the outer
  // stripMargin eats it (a leading list-concat '||' once became a
  // bitwise '|' this way; the trailing-|| line layout below is why).
  private def cdcDigestsCte(mBody: String, carry: Seq[String],
      window: Int, base: Long, div: Long): String = {
    val pows = (0 until window).map(j => (0 until j).foldLeft(1L)((p, _) => p * base))
    val powList = pows.mkString("[", ", ", "]")
    val cy = carry.map(c => s", $c").mkString
    s"""WITH m AS (
       |$mBody
       |), codes AS (
       |  SELECT media_id$cy, text, length(text) AS n,
       |    list_transform(range(1, length(text) + 1),
       |      i -> ord(substr(text, CAST(i AS INT), 1))) AS c
       |  FROM m
       |), ends AS (
       |  SELECT media_id$cy, text,
       |    [CAST(i AS INT) FOR i IN range($window - 1, n - 1) IF
       |      list_sum(list_transform(range(0, $window),
       |        j -> c[CAST(i + 1 - j AS INT)] * ($powList)[CAST(j + 1 AS INT)])) % $div = ${div - 1}] ||
       |      [CAST(n - 1 AS INT)] AS e
       |  FROM codes
       |), chunks AS (
       |  SELECT media_id$cy,
       |    CASE WHEN idx = 1 THEN 0 ELSE e[CAST(idx AS INT) - 1] + 1 END AS st,
       |    e[CAST(idx AS INT)] AS fin, text
       |  FROM ends, unnest(range(1, len(e) + 1)) r(idx)
       |), digests AS (
       |  SELECT media_id$cy, CAST(fin - st + 1 AS BIGINT) AS clen,
       |    md5(substr(text, st + 1, fin - st + 1)) AS digest
       |  FROM chunks
       |)""".stripMargin
  }

  def cdcDedupSql(window: Int = 8, base: Long = 31L, div: Long = 64L,
      minContainment: Double = 0.5): String = {
    val m =
      """  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    'inserted prefix ' || CAST(doc_id AS VARCHAR) || ' ' || text
        |  FROM documents WHERE doc_id % 7 = 0""".stripMargin
    s"""${cdcDigestsCte(m, Seq.empty, window, base, div)}, pbd AS (
       |  SELECT media_id, digest, count(*) AS cnt, any_value(clen) AS clen
       |  FROM digests GROUP BY media_id, digest
       |), bytes AS (
       |  SELECT media_id, CAST(sum(CAST(cnt * clen AS HUGEINT)) AS BIGINT) AS n_bytes
       |  FROM pbd GROUP BY media_id
       |), shared AS (
       |  SELECT l.media_id AS media_a, r.media_id AS media_b,
       |    CAST(sum(CAST(least(l.cnt, r.cnt) * l.clen AS HUGEINT)) AS BIGINT) AS shared_bytes
       |  FROM pbd l JOIN pbd r ON l.digest = r.digest AND l.media_id < r.media_id
       |  GROUP BY l.media_id, r.media_id
       |)
       |SELECT media_a, media_b, shared_bytes,
       |  round(CAST(shared_bytes AS DOUBLE) / least(ba.n_bytes, bb.n_bytes), 6) AS containment
       |FROM shared
       |JOIN bytes ba ON ba.media_id = media_a
       |JOIN bytes bb ON bb.media_id = media_b
       |WHERE CAST(shared_bytes AS DOUBLE) / least(ba.n_bytes, bb.n_bytes) >= $minContainment
       |ORDER BY media_a, media_b""".stripMargin
  }

  /** Oracle twin: the payload is the UTF-8 bytes of `text` and the
    * corpus is pure ASCII (asserted by the spec), so DuckDB reproduces
    * the byte-level rolling hash with `ord` over characters; the
    * polynomial coefficients ride as an exact-integer literal list so
    * every hash is BIGINT-exact in both engines.
    */
  def cdcChunksSql(window: Int = 8, base: Long = 31L, div: Long = 64L): String = {
    val m =
      """  SELECT doc_id AS media_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |    text
        |  FROM documents""".stripMargin
    s"""${cdcDigestsCte(m, Seq("kind"), window, base, div)}, rollup AS (
       |  SELECT kind,
       |    CAST(sum(CAST(cnt AS HUGEINT)) AS BIGINT) AS n_chunks,
       |    count(*) AS n_distinct_chunks,
       |    CAST(sum(CAST(cnt * clen AS HUGEINT)) AS BIGINT) AS total_bytes,
       |    CAST(sum(CAST((cnt - 1) * clen AS HUGEINT)) AS BIGINT) AS dup_bytes
       |  FROM (SELECT kind, digest, count(*) AS cnt, any_value(clen) AS clen
       |        FROM digests GROUP BY kind, digest)
       |  GROUP BY kind
       |), blobs AS (SELECT kind, count(*) AS n_blobs FROM m GROUP BY kind)
       |SELECT kind, n_blobs, n_chunks, n_distinct_chunks, total_bytes, dup_bytes,
       |  round(CAST(total_bytes AS DOUBLE) / n_chunks, 6) AS mean_chunk_len,
       |  round(CAST(dup_bytes AS DOUBLE) / total_bytes, 6) AS dedup_ratio
       |FROM rollup JOIN blobs USING (kind)
       |ORDER BY kind""".stripMargin
  }
}
