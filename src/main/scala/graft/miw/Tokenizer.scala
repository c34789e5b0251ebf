package graft.miw

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
}
