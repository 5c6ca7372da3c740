package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower, StringTrim}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters, Passed}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ArabicTokensExpr

/** The byte-scan Arabic tokenizer against its definition: the regex the
  * flagship used before it, run over the decoded row. The expression is
  * evaluated on literals, with no Spark job, so thousands of random
  * byte strings cost seconds.
  */
class TokenizerPropertySpec extends AnyFunSuite {

  /** The former tokenizer: Arabic letter runs over the decoded string
    * (v2/arabic_transformers.py:17-24).
    */
  private val ArabicTokenPattern =
    "[\\u0621-\\u063a\\u0640-\\u0652\\u0622\\u0623\\u0624\\u0625\\u0626\\u0629\\u0649]+".r

  private def utf8(cps: Int*): Array[Byte] = new String(cps.toArray, 0, cps.length).getBytes(UTF_8)
  private def codePoint(lo: Int, hi: Int): Gen[Array[Byte]] = Gen.choose(lo, hi).map(utf8(_))

  private val arabic = Gen.oneOf(
    codePoint(0x0621, 0x063a),                 // letters
    codePoint(0x0641, 0x064a),                 // letters after tatweel
    codePoint(0x064b, 0x0652),                 // tashkeel
    Gen.const(utf8(0x0640)))                   // tatweel
  private val neighbours = Gen.oneOf(
    Gen.oneOf(0x0620, 0x060c, 0x061f).map(utf8(_)),
    codePoint(0x063b, 0x063f),
    codePoint(0x0653, 0x0669))                 // includes the Arabic-Indic digits
  private val latin = Gen.oneOf(codePoint('a', 'z'), codePoint('A', 'Z'), codePoint('0', '9'))
  private val space = Gen.oneOf(" ", "\u00a0", "\t", "\r\n").map(_.getBytes(UTF_8))
  private val invalid = Gen.oneOf(
    Gen.oneOf(Seq(0xd8), Seq(0xd9), Seq(0xff), Seq(0xe2, 0x80)), // lone leads, FF, truncated 3-byte lead
    Gen.choose(0x80, 0xbf).map(Seq(_)))                           // stray continuation byte
    .map(_.map(_.toByte).toArray)

  private val rows: Gen[Array[Byte]] = for {
    pieces <- Gen.listOf(Gen.frequency(
      8 -> arabic, 2 -> neighbours, 2 -> latin, 3 -> space, 1 -> invalid))
    tail   <- Gen.oneOf(Array.emptyByteArray, Array(0xd8.toByte)) // D8 at the end of the input
  } yield pieces.toArray.flatten ++ tail

  private def regexTokens(bytes: Array[Byte]): List[String] =
    ArabicTokenPattern.findAllIn(new String(bytes, UTF_8)).toList

  private def scanTokens(bytes: Array[Byte]): List[String] = {
    val arr = ArabicTokensExpr(Literal(UTF8String.fromBytes(bytes), StringType))
      .eval().asInstanceOf[ArrayData]
    List.tabulate(arr.numElements())(arr.getUTF8String(_).toString)
  }

  private def holds(p: org.scalacheck.Prop, tag: String): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(3000), p)
    assert(r.status == Passed, s"$tag: $r")
  }

  test("byte scan equals the regex over the decoded row, invalid bytes as separators") {
    holds(forAll(rows)(bytes => scanTokens(bytes) == regexTokens(bytes)), "scan-equals-regex")
    assert(scanTokens(utf8(0x0628) ++ Array(0xd8.toByte) ++ utf8(0x0629)) == List("ب", "ة"))
    assert(ArabicTokensExpr(Literal(null, StringType)).eval() == null)
  }

  test("the former filter/trim/lower chain is the identity on Arabic tokens") {
    def sql(e: org.apache.spark.sql.catalyst.expressions.Expression) = e.eval().toString
    def trim(w: String)  = sql(StringTrim(Literal(w)))
    def lower(w: String) = sql(Lower(Literal(w)))
    holds(forAll(rows) { bytes =>
      val toks = regexTokens(bytes)
      // arabicTokens' filter(trim ≠ ""), the flagship's transform(lower ∘ trim),
      // then wordStatsOf's filter(≠ "")
      toks.filter(trim(_) != "").map(w => lower(trim(w))).filter(_ != "") == toks
    }, "composed-is-identity")
  }
}
