package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Arabic tokens of a string, in input order: the maximal runs of
  * U+0621–U+063A (letters) and U+0640–U+0652 (tatweel, tashkeel), the
  * reference tokenizer's class (v2/arabic_transformers.py:17-24).
  *
  * One scan over the UTF-8 bytes, with no decode: every character of
  * the class is the two-byte sequence `D8 A1..BA` or `D9 80..92`, and
  * each token is a copy of its bytes. `D8`/`D9` is never a continuation
  * byte, so such a pair decodes to its letter wherever it stands, and
  * bytes that are not valid UTF-8 separate tokens — the same tokens the
  * regex finds in `new String(bytes, UTF_8)`, where the decoder has
  * replaced those bytes with U+FFFD.
  */
case class ArabicTokensExpr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "arabic_tokens"

  override def nullSafeEval(input: Any): Any = {
    val s    = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off  = s.getBaseOffset
    val n    = s.numBytes
    val out  = Array.newBuilder[Any]
    def token(from: Int, until: Int): Unit = {
      val bytes = new Array[Byte](until - from)
      Platform.copyMemory(base, off + from, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
      out += UTF8String.fromBytes(bytes)
    }
    var start = -1 // first byte of the open token, or -1
    var i = 0
    while (i < n) {
      val b0 = Platform.getByte(base, off + i)
      val b1 = if (i + 1 < n) Platform.getByte(base, off + i + 1) & 0xff else 0
      val inClass =
        (b0 == 0xd8.toByte && b1 >= 0xa1 && b1 <= 0xba) ||
        (b0 == 0xd9.toByte && b1 >= 0x80 && b1 <= 0x92)
      if (inClass) {
        if (start < 0) start = i
        i += 2
      } else {
        if (start >= 0) { token(start, i); start = -1 }
        i += 1
      }
    }
    if (start >= 0) token(start, n)
    new GenericArrayData(out.result())
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ArabicTokensExpr {
  def tokens(c: Column): Column = Bridge.column(ArabicTokensExpr(Bridge.expression(c)))
}
