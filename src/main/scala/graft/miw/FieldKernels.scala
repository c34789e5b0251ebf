package graft.miw

import java.net.{URI, URISyntaxException}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar per-token kernels behind [[FieldExprs]]: the C numeric
  * conversions, URL template rebuild and time-of-day bucketing, each
  * one pass over a token instead of a chain of regex/cast/parse_url
  * expressions. Total functions: no input makes them throw, so a dirty
  * token cannot fail a job under ANSI mode. The expressions below call
  * them from generated code, so they stay in whole-stage codegen.
  */
object FieldKernels {

  /** C isspace(3) in the "C" locale. */
  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def skipSpace(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && isSpace(b(i))) i += 1
    i
  }

  /** strtoll(s, NULL, 10): leading whitespace, optional sign, decimal
    * digits; 0 without digits; saturates at the Long bounds. */
  def atoi(s: UTF8String): Long = {
    val b = s.getBytes
    var i = skipSpace(b, 0)
    var neg = false
    if (i < b.length && (b(i) == '+' || b(i) == '-')) { neg = b(i) == '-'; i += 1 }
    // accumulate negatively: |Long.MinValue| has no positive twin
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    var acc = 0L
    while (i < b.length && isDigit(b(i))) {
      val d = b(i) - '0'
      if (acc < limit / 10 || acc * 10 < limit + d) return if (neg) Long.MinValue else Long.MaxValue
      acc = acc * 10 - d
      i += 1
    }
    if (neg) acc else -acc
  }

  private def isHex(b: Byte): Boolean =
    isDigit(b) || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')

  private def matchesIgnoreCase(b: Array[Byte], at: Int, word: String): Boolean =
    at + word.length <= b.length &&
      word.indices.forall(k => (b(at + k) | 0x20) == word.charAt(k))

  /** strtod(s, NULL): leading whitespace, optional sign, then the
    * longest prefix that is a decimal float (digits, optional '.',
    * optional exponent), a hex float ("0x1.8p1", "0x1A"), "inf",
    * "infinity" or "nan" (any case); 0.0 when no prefix converts.
    * Decimal and hex prefixes round correctly, as glibc's do. */
  def atof(s: UTF8String): Double = {
    val b = s.getBytes
    var i = skipSpace(b, 0)
    var neg = false
    if (i < b.length && (b(i) == '+' || b(i) == '-')) { neg = b(i) == '-'; i += 1 }
    val sign = if (neg) -1.0 else 1.0
    if (matchesIgnoreCase(b, i, "inf")) return sign * Double.PositiveInfinity
    if (matchesIgnoreCase(b, i, "nan")) return Double.NaN
    val hex = i + 1 < b.length && b(i) == '0' && (b(i + 1) | 0x20) == 'x'
    val digit: Byte => Boolean = if (hex) isHex else isDigit
    val mant = if (hex) i + 2 else i
    var j = mant
    var nd = 0
    while (j < b.length && digit(b(j))) { j += 1; nd += 1 }
    if (j < b.length && b(j) == '.') {
      j += 1
      while (j < b.length && digit(b(j))) { j += 1; nd += 1 }
    }
    // nothing converts, except that "0x" without hex digits reads as "0"
    if (nd == 0) return if (hex) sign * 0.0 else 0.0
    val expChar = if (hex) 'p' else 'e'
    var end = j
    if (j < b.length && (b(j) | 0x20) == expChar) {
      var k = j + 1
      if (k < b.length && (b(k) == '+' || b(k) == '-')) k += 1
      if (k < b.length && isDigit(b(k))) {
        while (k < b.length && isDigit(b(k))) k += 1
        end = k
      }
    }
    val text = new String(b, i, end - i, java.nio.charset.StandardCharsets.US_ASCII)
    // Java's hex literal requires the binary exponent
    sign * java.lang.Double.parseDouble(if (hex && end == j) text + "p0" else text)
  }

  // ------------------------------------------------------------------ urls

  private val UrlVar = "%(scheme|host|port|path|query|fragment)".r

  def urlTemplate(format: String): UrlTemplate = {
    val pieces = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    var last = 0
    for (m <- UrlVar.findAllMatchIn(format)) {
      if (m.start > last) pieces += format.substring(last, m.start) -> false
      pieces += m.group(1) -> true
      last = m.end
    }
    if (last < format.length) pieces += format.substring(last) -> false
    UrlTemplate(pieces.map(_._1).toArray, pieces.map(_._2).toArray)
  }

  /** ":<port>" from a raw authority ending in ":<digits>", else "". */
  private def portSuffix(authority: String): String = {
    if (authority == null) return ""
    var i = authority.length
    while (i > 0 && authority.charAt(i - 1) >= '0' && authority.charAt(i - 1) <= '9') i -= 1
    if (i < authority.length && i > 0 && authority.charAt(i - 1) == ':')
      authority.substring(i - 1)
    else ""
  }

  /** One java.net.URI parse, read through the getters Spark's
    * parse_url uses. The token comes back unchanged when it contains
    * "://[", has no scheme, or does not parse as a URI. */
  def urlNormalize(token: UTF8String, tpl: UrlTemplate): UTF8String = {
    val s = token.toString
    if (s.contains("://[")) return token
    val uri =
      try new URI(s)
      catch { case _: URISyntaxException => return token }
    val scheme = uri.getScheme
    if (scheme == null || scheme.isEmpty) return token
    val out = new java.lang.StringBuilder(s.length)
    var k = 0
    while (k < tpl.pieces.length) {
      val p = tpl.pieces(k)
      if (!tpl.isPart(k)) out.append(p)
      else {
        val v = p match {
          case "scheme"   => scheme
          case "host"     => uri.getHost
          case "port"     => portSuffix(uri.getRawAuthority)
          case "path"     => uri.getRawPath
          case "query"    => uri.getRawQuery
          case "fragment" => uri.getRawFragment
        }
        if (v != null) out.append(v)
      }
      k += 1
    }
    UTF8String.fromString(out.toString)
  }

  // ------------------------------------------------------------------ time

  /** lpad(s, 2, "0"): left-pads with '0' to two characters and cuts a
    * longer value to its first two. */
  private def pad2(v: Long): String = {
    val s = v.toString
    if (s.length >= 2) s.substring(0, 2) else "0" + s
  }

  /** Bare HH:MM:SS bucketing: the space-trimmed token must split on ':'
    * into exactly three parts, else it passes through unchanged. The
    * bucketed unit reads as [[atoi]], is floored to a multiple of
    * `offset` and padded by `pad2`; the parts before it are kept.
    * `processing` is "hour", "minute" or "second". */
  def timeBucket(token: UTF8String, processing: String, offset: Int): UTF8String = {
    val parts = token.trim().toString.split(":", -1)
    if (parts.length != 3) return token
    def bucket(unit: String): String =
      pad2(Math.floorDiv(atoi(UTF8String.fromString(unit)), offset.toLong) * offset)
    UTF8String.fromString(processing match {
      case "hour"   => bucket(parts(0))
      case "minute" => parts(0) + ":" + bucket(parts(1))
      case "second" => parts(0) + ":" + parts(1) + ":" + bucket(parts(2))
      case _        => return token
    })
  }
}

/** A url_format template split into literal pieces and part names. */
final case class UrlTemplate(pieces: Array[String], isPart: Array[Boolean])

/** Shared shape of the kernels: one string child, its value handed to
  * a [[FieldKernels]] function from generated code. */
private[miw] sealed abstract class TokenKernel extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  /** Value of a null token; `null` keeps the result null. */
  protected def onNull: Any
  protected def kernel(token: UTF8String): Any
  /** Java call of the kernel on the token variable `v`. */
  protected def kernelCall(ctx: CodegenContext, v: String): String

  override def nullable: Boolean = onNull == null && child.nullable

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) onNull else kernel(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    if (onNull == null)
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = ${c.isNull};
        $jt ${ev.value} = ${ev.isNull} ? null : ${kernelCall(ctx, c.value.toString)};""")
    else
      ev.copy(code = code"""
        ${c.code}
        $jt ${ev.value} = ${c.isNull} ? ${onNull.toString} : ${kernelCall(ctx, c.value.toString)};""",
        isNull = FalseLiteral)
  }
}

/** C atoi/strtoll of a token; a null token reads as 0. */
case class CAtoi(child: Expression) extends TokenKernel {
  override def dataType: DataType = LongType
  protected def onNull: Any = 0L
  protected def kernel(t: UTF8String): Any = FieldKernels.atoi(t)
  protected def kernelCall(ctx: CodegenContext, v: String): String = s"graft.miw.FieldKernels.atoi($v)"
  override def prettyName: String = "c_atoi"
  override protected def withNewChildInternal(c: Expression): CAtoi = copy(child = c)
}

/** C atof/strtod of a token; a null token reads as 0.0. */
case class CAtof(child: Expression) extends TokenKernel {
  override def dataType: DataType = DoubleType
  protected def onNull: Any = 0.0
  protected def kernel(t: UTF8String): Any = FieldKernels.atof(t)
  protected def kernelCall(ctx: CodegenContext, v: String): String = s"graft.miw.FieldKernels.atof($v)"
  override def prettyName: String = "c_atof"
  override protected def withNewChildInternal(c: Expression): CAtof = copy(child = c)
}

/** URL rebuild through a url_format template; null stays null. */
case class UrlNormalize(child: Expression, format: String) extends TokenKernel {
  @transient private lazy val tpl = FieldKernels.urlTemplate(format)
  override def dataType: DataType = StringType
  protected def onNull: Any = null
  protected def kernel(t: UTF8String): Any = FieldKernels.urlNormalize(t, tpl)
  protected def kernelCall(ctx: CodegenContext, v: String): String = {
    val ref = ctx.addReferenceObj("urlTemplate", tpl, classOf[UrlTemplate].getName)
    s"graft.miw.FieldKernels.urlNormalize($v, $ref)"
  }
  override def prettyName: String = "url_normalize"
  override protected def withNewChildInternal(c: Expression): UrlNormalize = copy(child = c)
}

/** HH:MM:SS bucketing of a `time` token; null stays null. */
case class TimeBucket(child: Expression, processing: String, offset: Int) extends TokenKernel {
  override def dataType: DataType = StringType
  protected def onNull: Any = null
  protected def kernel(t: UTF8String): Any = FieldKernels.timeBucket(t, processing, offset)
  protected def kernelCall(ctx: CodegenContext, v: String): String = {
    val p = ctx.addReferenceObj("processing", processing, "java.lang.String")
    s"graft.miw.FieldKernels.timeBucket($v, $p, $offset)"
  }
  override def prettyName: String = "time_bucket"
  override protected def withNewChildInternal(c: Expression): TimeBucket = copy(child = c)
}
