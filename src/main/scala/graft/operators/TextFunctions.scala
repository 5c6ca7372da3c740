package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.ArabicTokensExpr

/** Column-level text functions mirroring the reference's word mappers.
  * All are compositions of built-in (codegen'd) functions, except
  * [[arabicTokens]], which is one native Catalyst expression — no UDFs.
  */
object TextFunctions {

  /** The eight Arabic tashkeel marks the reference strips
    * (ArabicTextWordsTokenizerTransformer.remove_diac,
    * /root/reference v2/arabic_transformers.py:25-28).
    */
  val ArabicDiacritics: String = "ًٌٍَُِّْ"

  def removeDiacritics(c: Column): Column = translate(c, ArabicDiacritics, "")

  /** Array of the Arabic tokens in `c`, in order: the maximal runs of
    * Arabic letters, tatweel and tashkeel (U+0621–U+063A,
    * U+0640–U+0652; v2/arabic_transformers.py:17-24), found in one scan
    * over the UTF-8 bytes ([[graft.functions.ArabicTokensExpr]]). Bytes
    * that are not valid UTF-8 separate tokens. No token is empty.
    */
  def arabicTokens(c: Column): Column = ArabicTokensExpr.tokens(c)

  /** truncate_str_255 analog (v2/core/commons.py). */
  def truncate255(c: Column): Column = substring(c, 1, 255)

  /** The reference's unique-word normalizer chain lower∘strip (v2/main.py:112). */
  def normalizeWord(c: Column): Column = lower(trim(c))

  /** basename_backwards_xN analog (v2/core/commons.py, used at
    * v2/main.py:205): keep only the last `n` path segments so loaded
    * file paths stay bounded; combined with truncation to 270 chars
    * (truncate_str_270).
    */
  def basenameBackwards(c: Column, n: Int = 4): Column = {
    val parts = split(c, "/")
    val tail  = when(size(parts) <= n, parts).otherwise(slice(parts, -n, n))
    substring(array_join(tail, "/"), 1, 270)
  }
}
