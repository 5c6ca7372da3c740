package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Locale
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ArabicCorpus

/** A small Arabic corpus written to a temp dir, with a per-file truth
  * computed in plain Scala (no Spark) — the paper's job, row for row.
  * Every file sits at least three directories below the temp dir, so
  * its last four path segments never reach outside the fixture.
  */
object ArabicFixture {
  type Row = (String, Int, Int, String, Long) // word, word_len, word_truncated, file_path, words_count

  private val longA = "كَتَبَ" * 60 + "ا"   // 361 chars, 181 without tashkeel
  private val longB = "كَتَبَ" * 60 + "ب"   // same 255-char prefix as longA

  /** Path under the fixture root → content. */
  val files: Seq[(String, String)] = Seq(
    "corpus/news/daily/a.txt" ->
      "ذهب الولد إلى المدرسة. ذهب الولد مع أخيه، والمدرسة بعيدة!\nالسَّلامُ عَلَيْكُمْ ورحمة الله",
    "corpus/news/daily/copy.txt" ->
      "ذهب الولد إلى المدرسة. ذهب الولد مع أخيه، والمدرسة بعيدة!\nالسَّلامُ عَلَيْكُمْ ورحمة الله",
    "corpus/news/deep/x/long.txt" -> s"بداية $longA وسط $longB $longA نهاية",
    "corpus/news/deep/x/y/noise.txt" -> "abcكتابdef 123مدرسة456 ١٢٣قلم٤٥٦ http://x.y/قلم?q=1 كتاب",
    "corpus/misc/crlf/lines.txt" -> "سطر أول\r\nسطر ثانٍ\r\n\r\nسطر",
    "corpus/misc/crlf/empty.txt" -> "",
    "corpus/misc/crlf/blank.txt" -> "  \n\t \r\n   ",
    "corpus/misc/crlf/latin.txt" -> "only latin words 42 and digits 0123",
    "corpus/misc/crlf/notes.md" -> "هذا الملف ليس نصا")

  /** The fixture's corpus dir, written once per JVM and deleted at exit. */
  lazy val dir: String =
    write("graft-arabic-fixture", files.map { case (rel, text) => rel -> text.getBytes(UTF_8) })

  /** Writes `files` (path under the root → bytes) to a fresh temp root
    * deleted at JVM exit; returns the root's `corpus` dir.
    */
  def write(prefix: String, files: Seq[(String, Array[Byte])]): String = {
    val root = TestSpark.tempDir(prefix)
    files.foreach { case (rel, bytes) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    root.resolve("corpus").toString
  }

  private val ArabicRun = "[\\u0621-\\u063A\\u0640-\\u0652]+".r // letters, tatweel, tashkeel
  private def tashkeel(c: Char) = c >= '\u064B' && c <= '\u0652'

  /** One row per distinct normalized word of each `.txt` file under `dir`. */
  def truth(dir: String): Seq[Row] =
    Files.walk(Path.of(dir)).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".txt"))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), UTF_8)
        val toks = ArabicRun.findAllIn(text).map(_.trim.toLowerCase(Locale.ROOT)).filter(_.nonEmpty).toSeq
        val path = p.toAbsolutePath.toString.split("/").takeRight(4).mkString("/").take(270)
        toks.distinct.map(w =>
          (w.take(255), w.count(!tashkeel(_)), if (w.length > 255) 1 else 0, path, toks.size.toLong))
      }.sorted

  /** Rows in one multiset and not the other, as readable lines. */
  def diff(got: Seq[Row], want: Seq[Row]): Seq[String] =
    got.diff(want).map("unexpected " + _) ++ want.diff(got).map("missing " + _)
}

class FlagshipTruthSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import ArabicFixture._

  private def wordStatsRows(corpus: String = dir): Seq[Row] =
    ArabicCorpus.wordStats(spark, corpus).collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))
      .sorted

  test("fixture truth covers the hostile cases it is meant to") {
    val want = truth(dir)
    val paths = want.map(_._4).toSet
    assert(paths.size == 5, paths) // a, copy, long, noise, lines — no empty/blank/latin/md
    assert(Seq("empty.txt", "blank.txt", "latin.txt", "notes.md").forall(f => !paths.exists(_.endsWith(f))))
    assert(want.count(_._3 == 1) == 2 && want.filter(_._3 == 1).map(_._1).distinct.size == 1,
      "two distinct over-long words sharing one truncated prefix")
    assert(want.exists(r => r._2 < r._1.length), "a word with tashkeel")
    assert(want.exists(r => r._4.endsWith("daily/a.txt") && r._1 == "ذهب" && r._5 == 14L))
    assert(want.filter(_._4.endsWith("noise.txt")).map(_._1).toSet == Set("كتاب", "مدرسة", "قلم"))
  }

  test("flagship word stats equal the per-file truth row for row") {
    val problems = diff(wordStatsRows(), truth(dir))
    assert(problems.isEmpty, problems.take(10).mkString("\n"))
  }

  test("the truth check fires on a planted wrong truth") {
    val got  = wordStatsRows()
    val want = truth(dir)
    val plants: Seq[Seq[Row] => Seq[Row]] = Seq(
      _.map(r => if (r._4.endsWith("lines.txt")) r.copy(_5 = r._5 + 1) else r),
      _.map(r => if (r._3 == 1) r.copy(_2 = r._1.length) else r),
      _.filterNot(_._4.endsWith("copy.txt")),
      _ :+ (("كتاب", 4, 0, want.head._4, want.head._5)))
    plants.foreach(plant => assert(diff(got, plant(want)).nonEmpty))
  }

  test("hostile bytes: a BOM, invalid UTF-8 between words and a 1 MB line match the truth") {
    def utf8(text: String) = text.getBytes(UTF_8)
    def raw(bytes: Int*) = bytes.map(_.toByte).toArray
    val words = Seq("كِتَاب", "قلم", "مدرسة", "بيت", "ولـــد", "السَّلامُ")
    val line  = Iterator.continually(words).flatten.take(100000).mkString(" ")
    val files = Seq(
      "corpus/hostile/enc/bom.txt" -> (raw(0xef, 0xbb, 0xbf) ++ utf8("بسم الله الرحمن")),
      // a lone D8 and D9, FF, a truncated 3-byte lead and a final D8,
      // glued between Arabic words
      "corpus/hostile/enc/invalid.txt" -> (utf8("كتاب") ++ raw(0xd8) ++ utf8("قلم ") ++ raw(0xd9) ++
        utf8("abc مدرسة") ++ raw(0xff) ++ utf8("بيت ") ++ raw(0xe2, 0x80) ++ utf8("ولد") ++
        raw(0xd8, 0x20) ++ utf8("كتاب") ++ raw(0xd8)),
      "corpus/hostile/big/line.txt" -> utf8(line))
    val corpus = write("graft-hostile", files)
    val want = truth(corpus)
    assert(Files.size(Path.of(corpus, "hostile/big/line.txt")) > 1000000)
    // invalid bytes separate tokens: six tokens, five distinct
    val invalid = want.filter(_._4.endsWith("invalid.txt"))
    assert(invalid.map(_._1).toSet == Set("كتاب", "قلم", "مدرسة", "بيت", "ولد") &&
      invalid.forall(_._5 == 6L), invalid)
    assert(want.filter(_._4.endsWith("bom.txt")).map(_._1).toSet == Set("بسم", "الله", "الرحمن"))
    assert(want.filter(_._4.endsWith("line.txt")).map(r => (r._1, r._5)).toSet ==
      words.map(w => (w, 100000L)).toSet)
    val problems = diff(wordStatsRows(corpus), want)
    assert(problems.isEmpty, problems.take(10).mkString("\n"))
  }
}
