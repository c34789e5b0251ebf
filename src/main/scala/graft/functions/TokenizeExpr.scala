package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native quote-aware tokenizer: splits on any character of the
  * delimiter SET, drops empty tokens, and keeps quoted spans whole
  * (a token starting with the quote char extends — interior
  * delimiters preserved — until a quote that ends a raw token).
  * Exact semantics of graft.miw.Tokenizer.quotedSplit (reference:
  * miw/log_format.cc:121-173), scanning the UTF8String bytes
  * directly: no String materialization, no boxed Vector, one
  * allocation per token. Delimiters/quote are ASCII in every shipped
  * format, so byte-wise scanning is UTF-8-safe (multi-byte sequences
  * never contain ASCII bytes). `quote` is the quote char's code, or
  * [[QuotedTokenize.NoQuote]], which matches no byte, for a plain
  * delimiter split (graft.miw.Tokenizer.simpleSplit).
  */
case class QuotedTokenize(child: Expression, delims: String, quote: Int)
    extends UnaryExpression with CodegenFallback with Serializable {

  require(delims.nonEmpty && delims.forall(_ < 0x80),
    "delimiters must be non-empty ASCII")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  // ASCII delimiter lookup table
  private val isDelim: Array[Boolean] = {
    val t = new Array[Boolean](128)
    delims.foreach(c => t(c.toInt) = true)
    t
  }

  @inline private def delim(b: Byte): Boolean = b >= 0 && b < 128 && isDelim(b)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes // cheap when backed by an exact array
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      if (delim(bytes(i))) i += 1
      else if (bytes(i) == quote) {
        var j = i + 1
        var end = -1
        while (j < n && end < 0) {
          if (bytes(j) == quote && (j == n - 1 || delim(bytes(j + 1)))) end = j
          j += 1
        }
        if (end < 0) { out += UTF8String.fromBytes(bytes, i, n - i); i = n }
        else { out += UTF8String.fromBytes(bytes, i, end + 1 - i); i = end + 1 }
      } else {
        val start = i
        while (i < n && !delim(bytes(i))) i += 1
        out += UTF8String.fromBytes(bytes, start, i - start)
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): QuotedTokenize =
    copy(child = newChild)
  override def prettyName: String = "quoted_tokenize"
}

object QuotedTokenize {
  /** Outside the byte range, so even a raw 0xFF byte never matches. */
  val NoQuote: Int = 256
}

object TokenizeExpr {
  def tokenize(line: Column, delims: String, quote: Option[Char]): Column =
    Shim.column(QuotedTokenize(Shim.expression(line), delims,
      quote.fold(QuotedTokenize.NoQuote)(_.toInt)))
}
