package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Formats, Tables}

/** Interchange round trips beyond what the corpus happens to contain:
  * the driver gate proves value-exactness on the documents table, this
  * spec plants the adversarial content a real corpus WILL eventually
  * hold — embedded newlines (the multiLine path), double quotes (the
  * escape path), commas/tabs (the delimiter path), unicode, and the
  * empty string — and demands bit-exact recovery through each format.
  */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def adversarial = {
    import spark.implicits._
    Seq(
      (1L, "plain text", "en", "web", 10L),
      (2L, "line one\nline two\nline three", "en", "web", 28L),
      (3L, "she said \"quoted, with comma\" and left", "en", "books", 38L),
      (4L, "tab\there, comma, and \"both\"\nnew line", "en", "web", 36L),
      (5L, "unicode: 中文 العربية émojis ok", "ar", "wiki", 24L),
      (6L, "", "en", "web", 0L),
      (7L, "trailing newline\n", "en", "web", 17L),
      // null text AND null lang (ADVICE r12): the writer's default
      // emits null as "", so without a writer-side nullValue sentinel
      // this row silently came back as the empty string — a value
      // change the empty-string row above can't catch
      (8L, null, null, "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("csv round trip recovers newlines, quotes, delimiters, unicode and the empty string bit-exactly") {
    val in = adversarial
    val dir = TestSpark.tempDir("csv_rt").toString
    val back = Formats.csvRoundTrip(in, dir)
    val a = in.orderBy("doc_id").collect().map(_.toSeq).toList
    val b = back.orderBy("doc_id").collect().map(_.toSeq).toList
    assert(a == b, s"csv round trip diverged:\n in=$a\nout=$b")
  }

  test("gated round trips reproduce the documents table exactly (jsonl, orc, csv)") {
    val t = Tables(spark, TestSpark.sf)
    val want = t.documents.orderBy("doc_id").collect().map(_.toSeq).toList
    Seq(
      "jsonl" -> Formats.documentsViaJsonl(t),
      "orc"   -> Formats.documentsViaOrc(t),
      "csv"   -> Formats.documentsViaCsv(t)
    ).foreach { case (name, df) =>
      val got = df.collect().map(_.toSeq).toList
      assert(got == want, s"$name round trip diverged from parquet")
    }
  }
}
