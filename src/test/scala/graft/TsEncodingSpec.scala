package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.streaming.Streams

/** Encoding-matrix regression for the events-ts decode seam.
  *
  * The driver's testdata generator has shipped events.ts under
  * different parquet encodings across regenerations (INT64
  * TIMESTAMP(NANOS), then TIMESTAMP(MICROS, isAdjustedToUTC=false));
  * round 8 showed a hardwired decode assumption silently skewing
  * timestamps ×1000 when the encoding changed. This spec writes the
  * SAME logical instants in all three encodings the seam supports and
  * asserts both the batch read (Tables.normalizeTs) and the streaming
  * read (Streams.eventsStream, which derives its schema from the same
  * seam) recover identical 2024-range instants from each — so the next
  * regeneration is a no-op.
  */
class TsEncodingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // three instants, micros since epoch, all in 2024
  private val instants = Seq(
    1709294400000000L, // 2024-03-01T12:00:00Z
    1709294401500000L, // +1.5s
    1714567890123456L) // 2024-05-01T...

  /** Write `df` as ONE file named `events.parquet` — the generator's
    * layout (a bare file, not a directory), which is also what
    * eventsStream's pathGlobFilter matches against.
    */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, dest: java.nio.file.Path): Unit = {
    val tmp = TestSpark.tempDir("ts_enc_w").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.move(part.toPath, dest): Unit
  }

  private lazy val base = {
    val dir = TestSpark.tempDir("ts_enc").toString
    import spark.implicits._
    val rows = instants.zipWithIndex.map { case (m, i) => (i.toLong, m) }

    // 1) INT64 nanos: what TIMESTAMP(NANOS) parquet becomes under
    // spark.sql.legacy.parquet.nanosAsLong=true — a plain long column.
    writeSingleFile(
      rows.map { case (id, m) => (id, m * 1000L) }.toDF("event_id", "ts"),
      java.nio.file.Paths.get(dir, "nanos", "events.parquet"))

    // 2) micros-NTZ: TimestampNTZType writes TIMESTAMP(MICROS,
    // isAdjustedToUTC=false) — the current generator encoding.
    writeSingleFile(
      rows.toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")),
      java.nio.file.Paths.get(dir, "ntz", "events.parquet"))

    // 3) micros-UTC: TimestampType with TIMESTAMP_MICROS output writes
    // TIMESTAMP(MICROS, isAdjustedToUTC=true).
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try
      writeSingleFile(
        rows.toDF("event_id", "us")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts")),
        java.nio.file.Paths.get(dir, "utc", "events.parquet"))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    dir
  }

  private val encodings = Seq("nanos", "ntz", "utc")

  private def microsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("the three fixture encodings really are distinct on disk") {
    val raw = encodings.map(e => spark.read.parquet(s"$base/$e/events.parquet").schema("ts").dataType)
    assert(raw(0) == LongType)
    assert(raw(1) == TimestampNTZType)
    assert(raw(2) == org.apache.spark.sql.types.TimestampType)
  }

  test("batch seam: identical instants from every encoding, all in 2024") {
    val want = instants.zipWithIndex.map { case (m, i) => i.toLong -> m }.toMap
    encodings.foreach { e =>
      val got = microsOf(Tables.normalizeTs(spark.read.parquet(s"$base/$e/events.parquet")))
      assert(got == want, s"encoding $e mis-decoded: $got")
    }
    // a ×1000 skew lands in 1970; pin the year range explicitly
    encodings.foreach { e =>
      val years = Tables.normalizeTs(spark.read.parquet(s"$base/$e/events.parquet"))
        .select(year(col("ts"))).collect().map(_.getInt(0)).toSet
      assert(years == Set(2024), s"encoding $e decoded into years $years")
    }
  }

  test("streaming seam: eventsStream matches the batch decode for every encoding") {
    val want = instants.zipWithIndex.map { case (m, i) => i.toLong -> m }.toMap
    encodings.foreach { e =>
      val name = s"ts_enc_$e"
      Streams.runToMemory(Streams.eventsStream(spark, s"$base/$e"), name)
      val got = microsOf(spark.table(name))
      assert(got == want, s"streaming read of encoding $e mis-decoded: $got")
    }
  }

  test("normalizeTs refuses an encoding it does not understand") {
    import spark.implicits._
    val weird = Seq(("a", "b")).toDF("event_id", "ts")
    intercept[IllegalArgumentException](Tables.normalizeTs(weird))
  }
}
