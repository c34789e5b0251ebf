package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.miw.Tokenizer

/** One tokenizing pass per log line, as a generator that emits exactly
  * one row per input line:
  *
  *   - `ntok`: the line's token count;
  *   - `f<p>` for each read position `p`: token `p` with every `"`
  *     removed, null when the line has no token `p`;
  *   - `tail<p>` for each tail position `p`: tokens `p`… concatenated
  *     as they are (quotes kept), null when the line has no token `p`.
  *
  * Tokens split on any character of the delimiter set, empty tokens
  * dropped. With a quotechar, a token starting with it extends,
  * interior delimiters kept, up to a quotechar followed by a delimiter
  * or the end of the line; an unclosed quote runs to the end of the
  * line (graft.miw.Tokenizer.quotedSplit, reference
  * miw/log_format.cc:121-173). Without one the split is
  * graft.miw.Tokenizer.simpleSplit.
  *
  * When the delimiters and quotechar are ASCII the line's UTF-8 bytes
  * are scanned in place (multi-byte sequences never contain an ASCII
  * byte); otherwise the line is decoded and split by the Tokenizer
  * reference functions, since a truncated non-ASCII delimiter byte
  * would match inside other characters.
  *
  * A row-bounds guard on `ntok` filters above the generator: Catalyst
  * cannot push a filter on generator output below a Generate, so the
  * line is tokenized exactly once.
  */
case class LineFields(child: Expression, delims: String, quotechar: String,
                      positions: Seq[Int], tails: Seq[Int])
    extends UnaryExpression with Generator with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)

  override def elementSchema: StructType = StructType(
    StructField("ntok", IntegerType, nullable = false) +:
      (positions.map(p => StructField(s"f$p", StringType)) ++
        tails.map(p => StructField(s"tail$p", StringType))))

  private val ascii = delims.forall(_ < 0x80) && quotechar.forall(_ < 0x80)
  /** The quote's byte, or 256 (no byte) without a quotechar. */
  private val quote: Int = quotechar.headOption.fold(256)(_.toInt)
  private val isDelim: Array[Boolean] = {
    val t = new Array[Boolean](128)
    if (ascii) delims.foreach(c => t(c.toInt) = true)
    t
  }
  /** Token index → output slot (1 + index into `positions`), or 0. */
  private val slotOf: Array[Int] = {
    val t = new Array[Int](if (positions.isEmpty) 0 else positions.max + 1)
    positions.zipWithIndex.foreach { case (p, k) => t(p) = k + 1 }
    t
  }
  private val minTail = if (tails.isEmpty) Int.MaxValue else tails.min

  @inline private def delim(b: Byte): Boolean = b >= 0 && isDelim(b)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val out = new Array[Any](1 + positions.size + tails.size)
    val line = child.eval(input).asInstanceOf[UTF8String]
    out(0) = 0
    if (line != null) {
      if (ascii) scanBytes(line.getBytes, out) else splitString(line.toString, out)
    }
    Iterator.single(new GenericInternalRow(out))
  }

  private def splitString(line: String, out: Array[Any]): Unit = {
    val toks = quotechar.headOption match {
      case Some(q) => Tokenizer.quotedSplit(line, delims, q)
      case None => Tokenizer.simpleSplit(line, delims)
    }
    out(0) = toks.size
    positions.zipWithIndex.foreach { case (p, k) =>
      if (p < toks.size) out(k + 1) = UTF8String.fromString(toks(p).replace("\"", ""))
    }
    tails.zipWithIndex.foreach { case (p, k) =>
      if (p < toks.size) out(1 + positions.size + k) = UTF8String.fromString(toks.drop(p).mkString)
    }
  }

  private def scanBytes(bytes: Array[Byte], out: Array[Any]): Unit = {
    val n = bytes.length
    // byte ranges [from, to) of tokens minTail…, for the tails
    val spans = if (tails.isEmpty) null else scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var ntok = 0
    var i = 0
    while (i < n) {
      if (delim(bytes(i))) i += 1
      else {
        val start = i
        if (bytes(i) == quote) {
          var j = i + 1
          var end = -1
          while (j < n && end < 0) {
            if (bytes(j) == quote && (j == n - 1 || delim(bytes(j + 1)))) end = j
            j += 1
          }
          i = if (end < 0) n else end + 1
        } else {
          while (i < n && !delim(bytes(i))) i += 1
        }
        if (ntok < slotOf.length && slotOf(ntok) > 0)
          out(slotOf(ntok)) = stripQuotes(bytes, start, i)
        if (ntok >= minTail) spans += ((start, i))
        ntok += 1
      }
    }
    out(0) = ntok
    tails.zipWithIndex.foreach { case (p, k) =>
      if (p < ntok) {
        val buf = new java.io.ByteArrayOutputStream
        spans.drop(p - minTail).foreach { case (from, to) => buf.write(bytes, from, to - from) }
        out(1 + positions.size + k) = UTF8String.fromBytes(buf.toByteArray)
      }
    }
  }

  /** Bytes [from, to) without any '"'; shares `bytes` when there is none. */
  private def stripQuotes(bytes: Array[Byte], from: Int, to: Int): UTF8String = {
    var q = 0
    var k = from
    while (k < to) { if (bytes(k) == '"') q += 1; k += 1 }
    if (q == 0) UTF8String.fromBytes(bytes, from, to - from)
    else {
      val buf = new Array[Byte](to - from - q)
      var at = 0
      k = from
      while (k < to) { if (bytes(k) != '"') { buf(at) = bytes(k); at += 1 }; k += 1 }
      UTF8String.fromBytes(buf)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): LineFields =
    copy(child = newChild)
  override def prettyName: String = "line_fields"
}

object LineFields {
  /** The generator over `line` as a Column; its output columns are
    * named `names` (ntok, the positions, then the tails). */
  def column(line: Column, delims: String, quotechar: String, positions: Seq[Int],
            tails: Seq[Int], names: Seq[String]): Column =
    Shim.column(LineFields(Shim.expression(line), delims, quotechar, positions, tails)).as(names)
}
