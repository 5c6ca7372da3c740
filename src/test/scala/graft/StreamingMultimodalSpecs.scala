package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import graft.operators.Events
import graft.sources.Tables
import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val t = Tables(TestSpark.spark, TestSpark.sf)

  test("streaming hourly agg matches batch Events.hourly") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    assert(stream.isStreaming)
    Streams.runToMemory(Streams.hourlyAgg(stream), "hourly_out", mode = "complete")
    val got   = spark.table("hourly_out")
      .select("hour", "event_type", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    val want = Events.hourly(t).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming dedup drops nothing on unique ids, all on dupes") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.dedupStream(stream).select("event_id"), "dedup_out")
    assert(spark.table("dedup_out").count() == t.events.count())
  }

  test("session_window agg groups the same sessions as lag+cumsum sessionize") {
    val got = Streams.sessionWindowAgg(t.events)
      .select("user_id", "n_events", "first_event", "last_event")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val want = Events.sessionize(t)
      .select("user_id", "n_events", "first_event", "last_event")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want)
  }

  test("stream-stream purchase⋈click join matches the batch join") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.purchaseClickJoin(stream), "ssj_out")
    val got = spark.table("ssj_out").select("purchase_id", "click_id")
      .collect().map(_.toSeq).toSet

    val want = Streams.purchaseClickJoin(t.events)
      .select("purchase_id", "click_id").collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("rate-source soak: many microbatches, state stays bounded") {
    import org.apache.spark.sql.streaming.Trigger
    val keys = 100
    val q = Streams.rateSoakAgg(spark, rowsPerSecond = 1000, keys = keys)
      .writeStream.outputMode("update").format("memory").queryName("soak_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      // run long enough that an eviction-less plan would hold far more
      // state than the bound below (≈ keys × elapsed-seconds rows);
      // wall time is what drives the discrimination, the batch floor
      // only guards against a wedged query (batch rate varies with
      // suite load)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        (q.lastProgress == null || q.lastProgress.batchId < 30)) Thread.sleep(250)
      val progresses = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(q.lastProgress.batchId >= 8, s"soak too short: ${q.lastProgress.batchId} batches")
      assert(spark.table("soak_out").count() > 0, "no rows emitted under soak")
      // watermark evicts closed 1s windows: state plateaus near
      // keys × (watermark 2s + window 1s + in-flight); without eviction
      // a 15s+ run would be > keys × 12
      val lateState = progresses.takeRight(3).map(_.stateOperators.head.numRowsTotal)
      assert(lateState.nonEmpty && lateState.max <= keys * 8L,
        s"state not bounded under soak: $lateState")
      // and the watermark actually advanced past epoch
      assert(progresses.last.eventTime.get("watermark") != null)
    } finally TestSpark.stopAfterBatch(q) // 250 ms trigger: stop off the commit path
    spark.sql("DROP TABLE IF EXISTS soak_out")
  }

  test("stateful sessionize emits batch-identical closed sessions") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.sessionize(spark, stream).toDF(), "sess_out")
    val got = spark.table("sess_out")
      .select("user_id", "session_id", "n_events", "first_event", "last_event")
      .collect().map(_.toSeq).toSet

    // batch sessions minus each user's final (still-open) session
    val batch = Events.sessionize(t)
    val closed = batch.withColumn("max_sid",
        max(col("session_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("session_id") < col("max_sid"))
      .select("user_id", "session_id", "n_events", "first_event", "last_event")
      .collect().map(_.toSeq).toSet
    assert(got == closed)
  }

  test("inline band keys are bit-identical to the grouped minhash path") {
    import graft.operators.Dedup
    val docs = Tables(spark, TestSpark.sf).documents
    val inline = Dedup.bandKeysInline(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // grouped path: wide signatures → same band digests
    val k = 16; val rowsPerBand = 2
    val sig = Dedup.minhashWide(Tables(spark, TestSpark.sf))
    val grouped = sig.select(col("doc_id"), posexplode(array(
        (0 until k / rowsPerBand).map { b =>
          md5(concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col(s"m$i").cast("string")): _*))
        }: _*)).as(Seq("band", "band_key")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(inline == grouped && inline.nonEmpty)
  }

  test("EWMA anomaly gate: state carries across batches; batch twin identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Long, Double)]
    val ev = mem.toDF().toDF("event_id", "event_type", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // warmup-length alternating series in batch 1, spike + a sub-warmup
    // key in batch 2: an anomaly can only fire if batch 1's state survived
    val batch1 = (0L until 20L).map(i =>
      (i, "m", 1000L + i, if (i % 2 == 0) 10.0 else 12.0))
    val batch2 = Seq((20L, "m", 1020L, 50.0), (21L, "m", 1021L, 11.0)) ++
      (0L until 5L).map(i => (100L + i, "n", 1020L + i, 99.0))
    val q = Streams.anomalyGate(spark, ev, alpha = 0.1, k = 3.0, warmup = 10)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("anom_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anom_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    val all = (batch1 ++ batch2).toDF("event_id", "event_type", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val want = Streams.anomalyGateBatch(spark, all, alpha = 0.1, k = 3.0, warmup = 10)
      .collect().map(a => (a.event_id, a.event_type, a.value, a.zscore)).toSet
    assert(got == want, s"stream $got != batch $want")
    assert(got.exists(_._1 == 20L), s"spike not flagged: $got")
    assert(!got.exists(_._2 == "n"), "sub-warmup key must stay silent")
  }

  test("dense-grid anomaly gate: zero-count outage hour flagged; batch twin identical; agrees with Events.anomaliesOf") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // 48 hours of steady-but-varying click traffic (9/11 alternating so
    // EW variance stays positive), with hour 30 SILENT — the outage the
    // dense grid exists to catch. Split mid-series: the outage can only
    // fire if batch 1's EWMA state survived into batch 2.
    val base = 1704067200L // 2024-01-01 00:00:00 UTC, hour-aligned
    val outageHour = 30
    def hourEvents(h: Int): Seq[(Long, String, Long)] = {
      val n = if (h % 2 == 0) 9 else 11
      (0 until n).map(j => (h * 100L + j, "click", base + h * 3600L + j * 10L))
    }
    val hours = (0 until 48).filter(_ != outageHour)
    val batch1 = hours.filter(_ < 20).flatMap(hourEvents)
    val batch2 = hours.filter(_ >= 20).flatMap(hourEvents)
    val mem = MemoryStream[(Long, String, Long)]
    val ev = mem.toDF().toDF("event_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val q = Streams.anomalyDenseGate(spark, ev)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("dense_anom_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Double)] =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getDouble(3))).toSet
    val got = rows(spark.table("dense_anom_out"))
    val all = (batch1 ++ batch2).toDF("event_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
    val want = rows(Streams.anomalyDenseBatch(spark, all).toDF())
    assert(got == want, s"stream $got != batch $want")
    // exactly the planted outage, closed at count 0 when hour 31 arrived
    val outageMillis = (base + outageHour * 3600L) * 1000L
    assert(got.map(t => (t._1, t._2, t._3)) == Set(("click", outageMillis, 0L)), s"got $got")
    // semantic cross-check: the batch global-stats query over the same
    // events flags the same (hour, type) — the dense-grid z-score shape,
    // computed two ways
    val batchFlags = graft.operators.Events.anomaliesOf(all).collect()
      .map(r => (r.getString(1), r.getTimestamp(0).getTime)).toSet
    assert(batchFlags == got.map(t => (t._1, t._2)), s"anomaliesOf $batchFlags != gate")
  }

  test("streaming gapfill: dense per-type hours incl. zeros; batch twin identical; matches Events.gapfillOf inside the closed range") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = 1704067200L // 2024-01-01 00:00:00 UTC
    // clicks hours 0-9 except 4-5 silent; views hours 2-7 except 5
    def ev(id: Long, typ: String, h: Int) = (id, typ, base + h * 3600L + (id % 50L))
    val clicks = Seq(0, 1, 2, 3, 6, 7, 8, 9).zipWithIndex.map { case (h, i) => ev(100L + i, "click", h) }
    val views = Seq(2, 3, 4, 6, 7).zipWithIndex.map { case (h, i) => ev(200L + i, "view", h) }
    val all = clicks ++ views
    val (batch1, batch2) = all.partition(_._3 < base + 5 * 3600L)
    val mem = MemoryStream[(Long, String, Long)]
    val evs = mem.toDF().toDF("event_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val q = Streams.gapfillGate(spark, evs)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("gapfill_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    val got = rows(spark.table("gapfill_out"))
    val allDf = all.toDF("event_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    assert(got == rows(Streams.gapfillGateBatch(spark, allDf).toDF()), "stream != batch twin")
    // the silent hours are present as real zeros
    def hh(h: Int) = (base + h * 3600L) * 1000L
    assert(got(("click", hh(4), 0L)) && got(("click", hh(5), 0L)) && got(("view", hh(5), 0L)))
    // agreement with the batch dense-grid query, restricted to each
    // type's CLOSED range [first event hour, last event hour): the
    // batch grid spans the global bounds and includes the open tail
    val batchGrid = graft.operators.Events.gapfillOf(allDf).collect()
      .map(r => (r.getString(1), r.getTimestamp(0).getTime, r.getLong(2))).toSet
    val closedRange = Map("click" -> (hh(0), hh(9)), "view" -> (hh(2), hh(7)))
    val batchClosed = batchGrid.filter { case (typ, h, _) =>
      closedRange.get(typ).exists { case (lo, hi) => h >= lo && h < hi }
    }
    assert(got == batchClosed, s"stream $got != batch grid (closed range) $batchClosed")
  }

  test("streaming DAU: sketch state matches the batch twin exactly; estimate near exact") {
    val ev = Streams.eventsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.dauStream(ev), "dau_out")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(java.sql.Date, Long)] =
      df.collect().map(r => (r.getDate(0), r.getLong(1))).toSet
    val got = rows(spark.table("dau_out"))
    val batch = graft.sources.Tables(spark, TestSpark.sf).events
    val want = rows(batch
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("approx_dau"))
      .select(col("w.start").cast("date").as("day"), col("approx_dau")))
    // the 25h-watermark tail (the last day or two) stays open in the
    // stream — append mode only emits CLOSED days; every closed day's
    // sketch estimate must be bit-identical to the batch twin's
    val wantClosed = want.filter { case (d, _) => got.exists(_._1 == d) }
    assert(got == wantClosed, s"stream $got != batch (closed days) $wantClosed")
    assert(got.nonEmpty)
    assert((want.size - got.size) <= 2, s"more than the tail withheld: ${want.size - got.size}")
    // HLL default rsd 5%: each day's estimate must sit near the exact count
    val exact = batch.groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau")).collect()
      .map(r => r.getDate(0) -> r.getLong(1)).toMap
    got.foreach { case (day, est) =>
      val ex = exact(day).toDouble
      assert(math.abs(est - ex) / ex <= 0.15, s"$day: est $est vs exact $ex")
    }
  }

  test("streaming upsert sink: versioned snapshots converge to the batch merge; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = TestSpark.tempDir("upsert_snap").toString + "/snap"
    val base = Seq((1L, "en", "s0", 100L), (2L, "en", "s0", 200L), (3L, "fr", "s1", 300L))
      .toDF("doc_id", "lang", "source", "n_chars")
    Streams.seedSnapshot(base, dir)
    // batch 0: update 2, delete 3, insert 7; batch 1: resurrect 3,
    // delete 7, update 2 AGAIN (seq must win over batch 0's)
    val b0 = Seq((2L, 1L, "u", "en", "s0", 250L), (3L, 2L, "d", "fr", "s1", 0L),
      (7L, 3L, "u", "de", "s2", 700L))
    val b1 = Seq((3L, 4L, "u", "fr", "s1", 333L), (7L, 5L, "d", "de", "s2", 0L),
      (2L, 6L, "u", "en", "s0", 275L))
    val mem = MemoryStream[(Long, Long, String, String, String, Long)]
    val changes = mem.toDF().toDF("doc_id", "seq", "op", "lang", "source", "n_chars")
    val q = Streams.upsertSink(changes, dir).start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def snap(v: Long): Set[(Long, String, String, Long)] =
      spark.read.parquet(s"$dir/v=$v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val got = snap(2)
    // the batch twin over the full change log
    val all = (b0 ++ b1).toDF("doc_id", "seq", "op", "lang", "source", "n_chars")
    val want = graft.operators.Incremental.mergeUpsertOf(base, all).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == want, s"stream snapshot $got != batch merge $want")
    assert(got == Set((1L, "en", "s0", 100L), (2L, "en", "s0", 275L), (3L, "fr", "s1", 333L)))
    // replay batch 1 (crash-after-partial-write): identical state back
    Streams.upsertMergeStep(all.filter(col("seq") >= 4), dir, 1L)
    assert(snap(2) == got, "replayed batch changed the snapshot")
  }

  test("streaming scd2 sink: versioned dimension equals sequential batch merges; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = TestSpark.tempDir("scd2_dim").toString + "/dim"
    val dim0 = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("key", "attr")
      .select(col("key"), col("attr"), lit("1995-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
    Streams.seedSnapshot(dim0, dir)
    // batch 0 snapshot (asOf 1996-06-01): 2 changes, 3 vanishes, 4 appears
    // batch 1 snapshot (asOf 1996-06-02): 2 changes AGAIN, 4 unchanged, 1 vanishes
    val b0 = Seq((1L, "A"), (2L, "B2"), (4L, "D"))
    val b1 = Seq((2L, "B3"), (4L, "D"))
    val mem = MemoryStream[(Long, String)]
    val snaps = mem.toDF().toDF("key", "attr")
    val q = Streams.scd2Sink(snaps, dir).start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(v: Long) = spark.read.parquet(s"$dir/v=$v").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("attr"),
        String.valueOf(r.getAs[java.sql.Date]("valid_from")),
        String.valueOf(r.getAs[java.sql.Date]("valid_to")),
        r.getAs[Boolean]("is_current"))).toSet
    val got = rows(2)
    // batch twin: scd2Of applied sequentially with the same dates
    val g1 = graft.operators.Incremental.scd2Of(dim0, b0.toDF("key", "attr"), "1996-06-01")
    val g2 = graft.operators.Incremental.scd2Of(g1, b1.toDF("key", "attr"), "1996-06-02")
    val want = g2.collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("attr"),
        String.valueOf(r.getAs[java.sql.Date]("valid_from")),
        String.valueOf(r.getAs[java.sql.Date]("valid_to")),
        r.getAs[Boolean]("is_current"))).toSet
    assert(got == want, s"stream dim $got != batch chain $want")
    // the full expected history, spelled out
    assert(got == Set(
      (1L, "A", "1995-01-01", "1996-06-02", false),   // survived b0, vanished in b1
      (2L, "B", "1995-01-01", "1996-06-01", false),   // closed by b0
      (2L, "B2", "1996-06-01", "1996-06-02", false),  // closed by b1
      (2L, "B3", "1996-06-02", "null", true),
      (3L, "C", "1995-01-01", "1996-06-01", false),   // vanished in b0
      (4L, "D", "1996-06-01", "null", true)), s"got $got")
    // crash-after-partial-write replay of batch 1: same state back
    Streams.scd2MergeStep(b1.toDF("key", "attr"), dir, 1L)
    assert(rows(2) == got, "replayed batch changed the dimension")
  }

  test("ewma gate: recurrence across micro-batches matches the fold; spike flags on the prior level") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val events = mem.toDF().toDF("event_type")
    val q = Streams.ewmaGate(spark, events)
      .writeStream.outputMode("update").format("memory").queryName("ewma_out").start()
    try {
      mem.addData(Seq.fill(10)("a"): _*); q.processAllAvailable()
      mem.addData(Seq.fill(10)("a"): _*); q.processAllAvailable()
      mem.addData(Seq.fill(40)("a"): _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_out")
      .select("n_events", "ewma", "is_spike").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toSet
    // fold: e1=10 (no baseline), e2=.3*10+.7*10=10, e3=.3*40+.7*10=19
    // spike3: 40 > 10*1.3
    assert(got == Set((10L, 10.0, None), (10L, 10.0, Some(false)),
      (40L, 19.0, Some(true))), s"got $got")
  }

  test("holt gate: double-smoothing recurrence matches the fold; forecast tracks a linear ramp") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val events = mem.toDF().toDF("event_type")
    val q = Streams.holtGate(spark, events)
      .writeStream.outputMode("update").format("memory").queryName("holt_out").start()
    val batches = 10 to 80 by 10
    try {
      batches.foreach { n => mem.addData(Seq.fill(n)("a"): _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("holt_out")
      .select("n_events", "level", "trend", "forecast", "forecast_err").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).sortBy(_._1)
    // driver-side fold of the same recurrence (α = 0.3)
    var (s1, s2) = (10.0, 10.0)
    var prevFc = 10.0
    val want = batches.drop(1).map(_.toLong).zipWithIndex.map { case (x, i) =>
      s1 = 0.3 * x + 0.7 * s1; s2 = 0.3 * s1 + 0.7 * s2
      val level = 2 * s1 - s2; val trend = 0.3 / 0.7 * (s1 - s2)
      val err = if (i >= 1) Some(math.rint((x - prevFc) * 1e6) / 1e6) else None
      prevFc = level + trend
      (x, math.rint(level * 1e6) / 1e6, math.rint(trend * 1e6) / 1e6,
        math.rint((level + trend) * 1e6) / 1e6, err)
    }
    assert(got.head == ((10L, 10.0, 0.0, 10.0, None)))   // seed batch
    assert(got.tail.toSeq == want, s"got ${got.tail.toSeq}\nwant $want")
    // on a steady ramp the trend estimate is positive, and once past
    // the warm-up hump the forecast error shrinks batch over batch —
    // the "tracks a drifting linear trend" property plain EWMA lacks
    val errs = got.tail.flatMap(_._5).map(math.abs)
    assert(got.tail.forall(_._3 > 0))
    assert(errs.drop(1).zip(errs.drop(2)).forall { case (a, b) => b < a },
      s"forecast not converging past warm-up: ${errs.toSeq}")
  }

  test("cusum gate: sustained +30% shift alarms where the ewma spike rule never fires") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val events = mem.toDF().toDF("event_type")
    val q = Streams.cusumGate(spark, events, warmup = 2)
      .writeStream.outputMode("update").format("memory").queryName("cusum_out").start()
    val batches = Seq(10, 10, 13, 13, 13) // mean 10 after warmup; then +30% sustained
    try {
      batches.foreach { n => mem.addData(Seq.fill(n)("a"): _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("cusum_out")
      .select("s_pos", "alarm").collect().map(r => (r.getDouble(0), r.getBoolean(1))).toSet
    // warmup rows 0.0/false; then S+ walks 2.5 -> 5.0 -> 7.5 with
    // slack 0.5 and h = 5: alarm only at 7.5 (5.0 is not > h)
    assert(got == Set((0.0, false), (2.5, false), (5.0, false), (7.5, true)), s"got $got")
    // the contrast that motivates CUSUM: 13 < 10*1.3 = the ewma spike
    // rule's threshold — a per-point rule never fires on this shift
    assert(batches.drop(2).forall(_ <= 10 * 1.3))
  }

  test("bounded ingest dedup: re-crawls drop within the horizon, state evicts past it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("doc_id", "sec", "text")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // quality-neutral long text so the quality gate stays out of the way
    val body = "a perfectly reasonable sentence with enough words to pass the quality gate, " * 3
    val q = Streams.corpusIngestBounded(docs, horizon = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("cib_out").start()
    try {
      mem.addData((1L, 36000L, body))              // t=10:00:00 — admitted
      q.processAllAvailable()
      // re-crawl 5 min later: inside the horizon — dropped; a fresh doc
      // an hour ahead advances the watermark past fp(1)'s eviction point
      mem.addData((2L, 36300L, body), (3L, 39600L, body + "unique tail"))
      q.processAllAvailable()
      // re-crawl long after the horizon: state evicted — re-admitted
      mem.addData((4L, 39900L, body))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cib_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 4L),
      s"expected within-horizon dup 2 dropped and post-horizon 4 re-admitted, got $got")
  }

  test("continuous ingest: batch N's accepted docs reject their batch N+1 kin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = TestSpark.tempDir("ndi").toString
    val (idxDir, accDir) = (s"$dir/index", s"$dir/accepted")
    def runBatches(ckpt: String): Unit = {
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q = Streams.nearDupIngest(docs, idxDir, accDir)
        .option("checkpointLocation", ckpt).start()
      try {
        // batch 0: two unrelated docs — both accepted, both indexed
        mem.addData(
          (1L, "alpha beta gamma delta epsilon zeta eta theta"),
          (2L, "one two three four five six seven eight nine"))
        q.processAllAvailable()
        // batch 1: a near-dup of doc 1 (one word changed) must be
        // rejected by the index batch 0 built; a fresh doc is accepted
        mem.addData(
          (10L, "alpha beta gamma delta epsilon zeta eta iota"),
          (11L, "red orange yellow green blue indigo violet colors"))
        q.processAllAvailable()
        // batch 2: a near-dup of the doc ACCEPTED in batch 1 — rejected
        // only if the index absorbed batch 1's survivors
        mem.addData((20L, "red orange yellow green blue indigo violet shades"))
        q.processAllAvailable()
      } finally q.stop()
    }
    runBatches(s"$dir/ckpt")
    def acceptedRows(): Seq[Long] = spark.read.parquet(accDir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(acceptedRows() == Seq(1L, 2L, 11L),
      s"expected batches to accept exactly {1,2,11}, got ${acceptedRows()}")
    // crash-replay shape: the identical batches run AGAIN against the
    // same index/accepted dirs (fresh checkpoint realigns batch ids at
    // 0). batchId-keyed overwrites + the probe excluding the current
    // batch's own partition must leave the exact same rows — a
    // duplicate doc_id here means a replayed batch appended instead of
    // rewriting, or rejected its own partially-absorbed documents.
    runBatches(s"$dir/ckpt_replay")
    assert(acceptedRows() == Seq(1L, 2L, 11L),
      s"replay must be idempotent, got ${acceptedRows()}")
  }

  test("buildBandIndex re-seed initializes: stale absorbed bands cannot reject") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = TestSpark.tempDir("seed").toString
    val (idxDir, accDir) = (s"$dir/index", s"$dir/acc")
    val corpusA = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    Streams.buildBandIndex(corpusA, idxDir)
    // absorb a batch so the index carries batch_id=0 alongside the seed
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"), idxDir, accDir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      mem.addData((1L, "one two three four five six seven eight nine"))
      q.processAllAvailable()
    } finally q.stop()
    // re-seed from an unrelated corpus: BOTH the old seed and the
    // absorbed batch must be gone — a near-dup of the absorbed doc and
    // of corpus A must now be accepted
    val corpusB = Seq((200L, "red orange yellow green blue indigo violet shades")).toDF("doc_id", "text")
    Streams.buildBandIndex(corpusB, idxDir)
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streams.nearDupIngest(mem2.toDF().toDF("doc_id", "text"), idxDir, s"$dir/acc2")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      mem2.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta iota"),   // kin of old seed — accepted now
        (11L, "one two three four five six seven eight ten"),     // kin of absorbed doc — accepted now
        (12L, "red orange yellow green blue indigo violet colors")) // kin of NEW seed — rejected
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(s"$dir/acc2").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L), s"re-seeded index must reject only corpus B kin, got $got")
  }

  test("streaming near-dup gate flags the same collisions as its batch twin") {
    val corpus = Tables(spark, TestSpark.sf).documents
    val stream = Streams.documentsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.nearDupGate(stream, corpus), "ndg_out")
    val got = spark.table("ndg_out").select("doc_id", "corpus_doc")
      .collect().map(_.toSeq).toSet
    val want = Streams.nearDupGate(corpus, corpus).select("doc_id", "corpus_doc")
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // collisions line up with the batch LSH candidate pairs (unordered)
    val pairs = graft.operators.Dedup.minhashLshPairs(Tables(spark, TestSpark.sf),
        estThreshold = 0.0)
      .select("doc_a", "doc_b").collect()
      .flatMap(r => Seq(Seq(r.getLong(0), r.getLong(1)), Seq(r.getLong(1), r.getLong(0))))
      .toSet
    assert(got.map(s => Seq(s(0), s(1))) == pairs)
  }

  test("streaming corpus ingest dedups and quality-gates like the batch twin") {
    val stream = Streams.documentsStream(spark, TestSpark.sf)
    assert(stream.isStreaming)
    Streams.runToMemory(Streams.corpusIngest(stream).select("fp"), "ingest_out")
    val got  = spark.table("ingest_out").collect().map(_.getString(0)).toSet
    val want = Streams.corpusIngest(
      Tables(spark, TestSpark.sf).documents).select("fp")
      .collect().map(_.getString(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("markov gate: transitions accumulate across batches to the batch matrix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, Long, String)]
    val ev = mem.toDF().toDF("user_id", "sec", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // the a→b step CROSSES the batch boundary for user 1 — it can only
    // be emitted if batch 1's last-event state survived
    val batch1 = Seq((1L, 100L, 1L, "a"), (2L, 100L, 2L, "x"))
    val batch2 = Seq((1L, 200L, 3L, "b"), (1L, 300L, 4L, "a"), (2L, 250L, 5L, "y"))
    val q = Streams.markovGate(spark, ev).toDF()
      .writeStream.outputMode("append").format("memory").queryName("markov_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("markov_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val all = (batch1 ++ batch2).toDF("user_id", "sec", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val want = Streams.markovGateBatch(spark, all).collect()
      .map(t => (t.user_id, t.src, t.dst)).toSet
    assert(got == want && got == Set((1L, "a", "b"), (1L, "b", "a"), (2L, "x", "y")))
    // counted matrix equals the gated batch operator's counts
    val grid = spark.table("markov_out").groupBy("src", "dst").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batchGrid = graft.operators.Features.markovTransitionsOf(all).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(grid == batchGrid)
  }

  test("streaming rule gate passes exactly the batch Gopher survivors, stateless") {
    val stream = Streams.documentsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.ruleGate(stream).select("doc_id"), "rulegate_out")
    val got  = spark.table("rulegate_out").collect().map(_.getLong(0)).toSet
    val docs = Tables(spark, TestSpark.sf).documents
    val want = graft.operators.QualityRules.gopherRulesOf(docs)
      .filter(org.apache.spark.sql.functions.col("gopher_pass") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    assert(got.size < docs.count()) // the gate actually discriminates
  }

  test("streaming running weighted sample equals the batch selection") {
    val stream = Streams.documentsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.runningSample(stream, k = 20), "runsample_out",
      mode = "complete")
    val got = spark.table("runsample_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = graft.operators.Analytics2.weightedSampleOf(
        Tables(spark, TestSpark.sf).documents, k = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.size == 20)
  }

  test("compaction sizes the output file count from the plan estimate") {
    val docs = Tables(spark, TestSpark.sf).documents
    val out  = "target/compact_out"
    val n = graft.sinks.Sinks.compactParquet(docs, out, targetBytes = 8 * 1024)
    assert(n > 1, s"8KB target over the docs table must split files (n=$n)")
    val files = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(files == n, s"expected $n parquet files, found $files")
    assert(spark.read.parquet(out).count() == docs.count())
    val n1 = graft.sinks.Sinks.compactParquet(docs, out) // 128MB default
    assert(n1 == 1, "default target must compact the small table to one file")
  }

  test("stream-static segment join matches the batch twin") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.segmentHourly(stream, t.customer), "seg_out", mode = "complete")
    val got  = spark.table("seg_out").collect().map(_.toSeq).toSet
    val want = Streams.segmentHourly(t.events, t.customer).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("sliding-window counts match batch; each event lands in two slides") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    Streams.runToMemory(Streams.slidingCounts(stream), "slide_out", mode = "complete")
    val got  = spark.table("slide_out").collect().map(_.toSeq).toSet
    val want = Streams.slidingCounts(t.events).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // 2h window / 1h slide ⇒ total windowed count = 2 × raw count
    val total = spark.table("slide_out").agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == 2 * t.events.count())
    // downstream trending top-1 per window is a stateless post-pass
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_start")).orderBy(col("n_events").desc, col("event_type"))
    val top = spark.table("slide_out").withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assert(top.count() == spark.table("slide_out").select("win_start").distinct().count())
  }

  test("chained stateful top-k: native heap aggregate in streaming state matches batch") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    // two chained stateful aggs ⇒ append mode only; hours emit once the
    // 2 h watermark closes them, so the in-flight tail is withheld
    Streams.runToMemory(Streams.topkNative(stream), "topk_out")
    val got  = spark.table("topk_out").collect().map(_.toSeq).toSet
    val want = Streams.topkNative(t.events).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got.subsetOf(want), s"stream emitted ${got.size} not ⊆ batch ${want.size}")
    // every hour strictly below (max ts − watermark − window) MUST have emitted
    val maxTs = t.events.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val cutMs = maxTs - (2 * 3600 + 3600) * 1000L
    val wantClosed = Streams.topkNative(t.events)
      .filter(col("hour") < new java.sql.Timestamp(cutMs))
      .collect().map(_.toSeq).toSet
    assert(wantClosed.subsetOf(got), s"${wantClosed.size} closed rows vs ${got.size} emitted")
    // ≤ k ranks per (hour, type), ranks contiguous from 1
    val byKey = spark.table("topk_out").groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
    assert(byKey.filter(col("n") > 5 || col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
  }

  test("psi gate: cross-batch drift state ≡ batch twin; agrees with Analytics3.psiDriftOf") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // steady feed (lengths around the corpus median) and a drifted feed
    // (everything in the long tail), split across two micro-batches so
    // the count vector must survive the batch boundary.
    val steady = (1 to 30).map(i => ("steady", 250 + (i % 50)))
    val drifted = (1 to 30).map(i => ("drifted", 480 + (i % 20)))
    val all = steady ++ drifted
    val (batch1, batch2) = all.splitAt(25)
    val docsDf = all.toDF("source", "n_chars")
    val baseline = graft.operators.Analytics3.psiBaselineRates(docsDf)
    val mem = MemoryStream[(String, Int)]
    val q = Streams.psiGate(spark, mem.toDF().toDF("source", "n_chars"), baseline)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("psi_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits per batch; the final snapshot is the row
    // with that source's max n_docs (monotone counter)
    val got = spark.table("psi_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
    val want = Streams.psiGateBatch(spark, docsDf, baseline)
      .collect().map(p => (p.source, p.n_docs, p.psi)).toSet
    assert(got == want, s"stream $got != batch $want")
    // semantic cross-check vs the gated batch query (independent plan;
    // HALF_UP vs rint can differ in the last rounded digit)
    val batchPsi = graft.operators.Analytics3.psiDriftOf(docsDf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    got.foreach { case (src, _, psi) =>
      assert(math.abs(psi - batchPsi(src)) <= 1e-6, s"$src: $psi vs ${batchPsi(src)}")
    }
    // directional check against an INDEPENDENT reference corpus (the
    // production shape — baseline from history, feeds scored live):
    // a feed matching the reference reads near 0, the drifted one high
    val ref = (1 to 60).map(i => ("hist", 250 + (i % 50))).toDF("source", "n_chars")
    val refRates = graft.operators.Analytics3.psiBaselineRates(ref)
    val scored = Streams.psiGateBatch(spark, docsDf, refRates)
      .collect().map(p => p.source -> p.psi).toMap
    assert(scored("drifted") > scored("steady") + 0.5,
      s"drifted feed must read far higher PSI vs reference: $scored")
  }

  test("benford gate: cross-batch digit state ≡ batch twin; planted non-conforming feed flags") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // rough-Benford amounts (many leading 1s/2s) then a batch of flat
    // 9xx.xx amounts — χ² must rise once the non-conforming batch lands,
    // and the final state must equal the batch twin over the full log.
    val conforming = (1 to 30).map(i => 100.0 + i) ++ (1 to 15).map(i => 200.0 + i) ++
      (1 to 8).map(i => 300.0 + i) ++ (1 to 5).map(i => 400.0 + i)
    val flat = (1 to 40).map(i => 900.0 + i % 50)
    val mem = MemoryStream[Double]
    val q = Streams.benfordGate(spark, mem.toDF().toDF("o_totalprice"))
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("benford_out").start()
    try {
      mem.addData(conforming: _*); q.processAllAvailable()
      mem.addData(flat: _*); q.processAllAvailable()
    } finally q.stop()
    val snaps = spark.table("benford_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(snaps.length == 2 && snaps(0)._1 == conforming.size.toLong &&
      snaps(1)._1 == (conforming.size + flat.size).toLong, s"got ${snaps.toList}")
    assert(snaps(1)._2 > snaps(0)._2 + 50,
      s"flat-900s batch must spike chi2: ${snaps.toList}")
    val want = Streams.benfordGateBatch(spark,
      (conforming ++ flat).toDF("o_totalprice")).collect().head
    assert((snaps(1)._1, snaps(1)._2) == ((want.n, want.chi2)),
      s"final snapshot ${snaps(1)} != batch twin $want")
  }

  test("interarrival gate: cross-batch gaps stitch and the stats equal the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_id", "user_id", "ts")
    val q = Streams.interArrivalGate(spark, events)
      .writeStream.outputMode("update").format("memory").queryName("ia_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq((1L, 1L, ts("2024-03-01 10:00:00")), (2L, 1L, ts("2024-03-01 10:00:10")),
      (3L, 2L, ts("2024-03-01 11:00:00")))
    val batch2 = Seq((4L, 1L, ts("2024-03-01 10:00:40")),
      (5L, 2L, ts("2024-03-01 11:01:00")), (6L, 2L, ts("2024-03-01 11:03:00")))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    // latest emitted row per user (update mode re-emits; last wins)
    val gotRows = spark.table("ia_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    val got = gotRows.groupBy(_._1).map { case (u, rs) => rs.maxBy(_._2) }.toSet
    val batchTwin = graft.operators.Behavior.interArrivalOf(
      (batch1 ++ batch2).toDF("event_id", "user_id", "ts")
        .withColumn("event_type", org.apache.spark.sql.functions.lit("x")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(r.fieldIndex("mean_gap_s")),
        if (r.isNullAt(r.fieldIndex("sd_gap_s"))) None
        else Some(r.getDouble(r.fieldIndex("sd_gap_s"))),
        if (r.isNullAt(r.fieldIndex("burstiness"))) None
        else Some(r.getDouble(r.fieldIndex("burstiness"))))).toSet
    assert(got == batchTwin, s"got $got\nwant $batchTwin")
  }

  test("interarrival gate: a single event emits nothing until a gap exists") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_id", "user_id", "ts")
    val q = Streams.interArrivalGate(spark, events)
      .writeStream.outputMode("update").format("memory").queryName("ia_single").start()
    try {
      mem.addData((1L, 9L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("ia_single").count() == 0)
      mem.addData((2L, 9L, java.sql.Timestamp.valueOf("2024-03-01 10:00:30")))
      q.processAllAvailable()
      val r = spark.table("ia_single").collect().head
      assert(r.getLong(1) == 1L && r.getDouble(2) == 30.0 && r.isNullAt(3))
    } finally q.stop()
  }

  test("session finalize: sessions emit exactly once, when they can no longer grow") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_id", "user_id", "ts")
    val q = Streams.sessionFinalize(spark, events)
      .writeStream.outputMode("append").format("memory").queryName("fin_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // batch 1: u1 two events 10 min apart; u2 one event — all open
      mem.addData((1L, 1L, ts("2024-03-01 10:00:00")), (2L, 1L, ts("2024-03-01 10:10:00")),
        (3L, 2L, ts("2024-03-01 10:05:00")))
      q.processAllAvailable()
      assert(spark.table("fin_out").count() == 0) // nothing closeable yet
      // batch 2: u1 event past the 30-min gap → his first session closes
      // INTRA-BATCH; watermark (max 11:00 − 1 min lateness = 10:59)
      // passes u2's deadline 10:35 → u2's session times out and emits
      mem.addData((4L, 1L, ts("2024-03-01 11:00:00")))
      q.processAllAvailable()
      // timeout processing can land in the NEXT micro-batch after the
      // watermark advances — nudge with an empty-ish batch
      mem.addData((5L, 3L, ts("2024-03-01 11:00:01")))
      q.processAllAvailable()
      val afterB2 = spark.table("fin_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(afterB2.contains((1L, 0L, 2L)), s"u1 first session missing: $afterB2")
      assert(afterB2.contains((2L, 0L, 1L)), s"u2 session not timed out: $afterB2")
      assert(afterB2.size == 2) // u1's SECOND session (11:00) still open
      // batch 3: far-future event closes everything older
      mem.addData((6L, 3L, ts("2024-03-01 15:00:00")))
      q.processAllAvailable()
      mem.addData((7L, 3L, ts("2024-03-01 15:00:01")))
      q.processAllAvailable()
      val fin = spark.table("fin_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fin.contains((1L, 1L, 1L)), s"u1 second session missing: $fin")
      // batch 4 (ADVICE r11): u2 RETURNS after its session timed out.
      // The timeout path must keep a seq CURSOR, not remove state — a
      // restart at seq 0 would emit a duplicate (user_id, session_seq)
      // primary key into the append sink. The return session is seq 1.
      mem.addData((8L, 2L, ts("2024-03-01 15:30:00")))
      q.processAllAvailable()
      mem.addData((9L, 3L, ts("2024-03-01 20:00:00")))
      q.processAllAvailable()
      mem.addData((10L, 3L, ts("2024-03-01 20:00:01")))
      q.processAllAvailable()
      val fin2 = spark.table("fin_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fin2.contains((2L, 1L, 1L)), s"u2 return session must continue at seq 1: $fin2")
      // no session ever emitted twice
      val all = spark.table("fin_out").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(all.length == all.distinct.length)
    } finally q.stop()
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("media table has binary payload + typed metadata") {
    val m = Multimodal.mediaFromDocuments(spark, TestSpark.sf)
    val r = m.head()
    assert(r.payload.nonEmpty && Seq("image", "audio", "video").contains(r.kind))
    assert(m.count() == 500)
  }

  test("feature extraction is deterministic with fixed width") {
    val m  = Multimodal.mediaFromDocuments(spark, TestSpark.sf)
    val f1 = Multimodal.extractFeatures(m).collect().map(f => f.media_id -> f.features.toSeq).toMap
    val f2 = Multimodal.extractFeatures(m).collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.length == Multimodal.StubDecoder.FeatureDim))
    assert(f1.values.flatten.forall(v => v >= 0f && v <= 1f))
  }

  test("decoder is swappable via conf: fake decoder replaces the stub, stub returns on unset") {
    val m = Multimodal.mediaFromDocuments(spark, TestSpark.sf)
    CountingFakeDecoder.opens.set(0); CountingFakeDecoder.closes.set(0)
    spark.conf.set(Multimodal.Decoder.ConfKey, classOf[CountingFakeDecoder].getName)
    try {
      val f = Multimodal.extractFeatures(m).collect()
      // the fake's output shape, not the stub's: [n_bytes, 42]
      assert(f.forall(r => r.features.toSeq == Seq(r.n_bytes.toFloat, 42f)))
      // one decoder lifecycle per partition, close always paired with open
      assert(CountingFakeDecoder.opens.get() > 0)
      assert(CountingFakeDecoder.opens.get() == CountingFakeDecoder.closes.get())
    } finally spark.conf.unset(Multimodal.Decoder.ConfKey)
    // conf unset ⇒ back to the deterministic stub
    val s = Multimodal.extractFeatures(m).head()
    assert(s.features.length == Multimodal.StubDecoder.FeatureDim)
  }

  test("resize plan scales to bounding box without touching payload") {
    val m   = Multimodal.mediaFromDocuments(spark, TestSpark.sf).toDF()
    val out = Multimodal.resizePlan(m, 64)
    out.collect().foreach { r =>
      assert(r.getInt(3) <= 64 && r.getInt(4) <= 64)
    }
    // payload column must be pruned from the physical scan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("payload"))
  }

  test("frame sampling emits one row per sampled frame") {
    val m   = Multimodal.mediaFromDocuments(spark, TestSpark.sf).toDF()
    val out = Multimodal.frameSamplePlan(m, fps = 1.0)
    val one = out.filter(col("media_id") === 2).collect()
    assert(one.nonEmpty)
    assert(one.map(_.getLong(2)).toSeq == one.map(_.getLong(2)).sorted.toSeq)
  }

  test("phash ranking: duplicate images collapse to hamming 0, ranking is deterministic") {
    val out = Multimodal.phashQuery(spark, TestSpark.sf).collect()
    assert(out.length == 50)
    // dedup_exact shows the corpus has verbatim duplicate texts →
    // identical fake luma → identical phash → hamming 0 to any twin of
    // the query doc... or at minimum: hamming is non-decreasing and
    // bounded by the bit width
    val hs = out.map(_.getLong(2))
    assert(hs.toSeq == hs.sorted.toSeq)
    assert(hs.forall(h => h >= 0 && h <= 60))
    // determinism: same plan twice, same ranking
    val again = Multimodal.phashQuery(spark, TestSpark.sf).collect().map(_.getLong(0)).toSeq
    assert(again == out.map(_.getLong(0)).toSeq)
  }
}

/** Reflection-instantiated test decoder: constant-shaped output plus
  * lifecycle counters proving one open/close pair per partition.
  */
class CountingFakeDecoder extends Multimodal.Decoder {
  override def open(): Unit = CountingFakeDecoder.opens.incrementAndGet()
  override def decode(kind: String, payload: Array[Byte]): Array[Float] =
    Array(payload.length.toFloat, 42f)
  override def close(): Unit = CountingFakeDecoder.closes.incrementAndGet()
}

object CountingFakeDecoder {
  val opens  = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
}
