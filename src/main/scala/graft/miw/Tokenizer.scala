package graft.miw

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Line tokenization matching the reference engine's semantics
  * (reference: miw/log_format.cc:100-173).
  *
  * Tokens split on any char of the delimiter *set*, dropping empty
  * tokens (runs of delimiters collapse). With a quotechar, quoted spans
  * are kept whole (a token starting with the quote char runs until a
  * token ending with the quote char, delimiters in between preserved).
  */
object Tokenizer {

  /** Split on runs of any delimiter char, no empty tokens.
    * Mirrors boost::char_separator / tokenize_simple semantics. */
  def simpleSplit(line: String, delims: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = line.length
    while (i < n) {
      if (delims.indexOf(line.charAt(i)) >= 0) i += 1
      else {
        val start = i
        while (i < n && delims.indexOf(line.charAt(i)) < 0) i += 1
        out += line.substring(start, i)
      }
    }
    out.result()
  }

  /** Quote-aware split: a token that begins with `quote` extends (with
    * interior delimiters preserved) until a position holding `quote`
    * that terminates a raw token (i.e. is followed by a delimiter or
    * end-of-line). Unclosed quote ⇒ rest of line becomes the token.
    * (reference: miw/log_format.cc:121-173) */
  def quotedSplit(line: String, delims: String, quote: Char): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = line.length
    while (i < n) {
      if (delims.indexOf(line.charAt(i)) >= 0) i += 1
      else if (line.charAt(i) == quote) {
        var j = i + 1
        var end = -1
        while (j < n && end < 0) {
          if (line.charAt(j) == quote &&
              (j == n - 1 || delims.indexOf(line.charAt(j + 1)) >= 0))
            end = j
          j += 1
        }
        if (end < 0) { out += line.substring(i); i = n }
        else { out += line.substring(i, end + 1); i = end + 1 }
      } else {
        val start = i
        while (i < n && delims.indexOf(line.charAt(i)) < 0) i += 1
        out += line.substring(start, i)
      }
    }
    out.result()
  }

  /** Column of array&lt;string&gt; tokens for `line`: the native
    * UTF8String scanner (graft.functions.QuotedTokenize — same
    * semantics as [[quotedSplit]], or [[simpleSplit]] without a
    * quotechar; no boxing) when the delimiters and quotechar are ASCII,
    * else a UDF over the Scala reference split. */
  def tokensCol(line: Column, delims: String, quotechar: String): Column =
    if (delims.forall(_ < 0x80) && quotechar.forall(_ < 0x80)) {
      graft.functions.TokenizeExpr.tokenize(line, delims, quotechar.headOption)
    } else {
      // the native scanner compares raw UTF-8 bytes; a non-ASCII delim
      // or quotechar would truncate to a byte that can spuriously match
      // UTF-8 continuation bytes
      val split: String => Vector[String] = quotechar.headOption match {
        case Some(q) => quotedSplit(_, delims, q)
        case None => simpleSplit(_, delims)
      }
      udf((s: String) => if (s == null) Vector.empty[String] else split(s)).apply(line)
    }
}
