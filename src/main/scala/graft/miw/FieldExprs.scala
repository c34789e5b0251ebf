package graft.miw

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{BooleanType, LongType}

/** Per-field scalar transforms: date/time bucketing, URL normalization,
  * C-style numeric casts, and the evtx/DNS preprocessing parsers.
  * Date bucketing is built from `org.apache.spark.sql.functions`
  * Column expressions; time bucketing, URLs and the casts are native
  * one-pass kernels ([[FieldKernels]]); all of these run in whole-stage
  * codegen. UDFs only for the two evtx blob parsers.
  *
  * Semantics from the reference parse loop (miw/log_format.cc:401-538)
  * and preprocessors (miw/log_format.cc:606-716).
  */
object FieldExprs {

  // ---------------------------------------------------------------- dates

  /** Convert a strptime(3) format to a Spark datetime pattern, quoting
    * literal text. Covers every conversion used by the reference's
    * format library (%Y %m %d %H %M %S %y %b %e %T %F). */
  def strptimeToSpark(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      // quote any literal run containing letters or the quote char
      if (s.exists(c => c.isLetter || c == '\'')) {
        out += '\''; out ++= s.replace("'", "''"); out += '\''
      } else out ++= s
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val conv = fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"; case 'y' => "yy"
          case 'm' => "MM";   case 'd' => "dd"; case 'e' => "d"
          case 'H' => "HH";   case 'M' => "mm"; case 'S' => "ss"
          case 'b' | 'h' => "MMM"; case 'B' => "MMMM"; case 'a' => "EEE"
          case 'j' => "DDD"
          case 'T' => "HH:mm:ss"
          case 'F' => "yyyy-MM-dd"
          case 'z' => "XX"; case 'Z' => "zz"
          case '%' => null // literal percent
          case other => throw new IllegalArgumentException(
            s"unsupported strptime conversion %$other in '$fmt'")
        }
        if (conv == null) lit += '%' else { flush(); out ++= conv }
        i += 2
      } else { lit += c; i += 1 }
    }
    flush()
    out.toString
  }

  /** Timestamp from a token per the field's date_format; "unix" means
    * epoch seconds (reference: miw/log_format.cc:404-414). Unparseable
    * tokens yield null (caller falls back to the raw token, mirroring
    * the reference's warn-and-keep behavior). */
  def parseDate(token: Column, dateFormat: String): Column =
    if (dateFormat == "unix")
      timestamp_seconds(token.try_cast(LongType))
    else
      try_to_timestamp(token, lit(strptimeToSpark(dateFormat)))

  /** Reference date bucketing prints tm fields through std::to_string —
    * i.e. UNPADDED month/day/hour (miw/log_format.cc:417-441); only the
    * bucketed minute is zero-padded. */
  def dateBucket(ts: Column, processing: String, offset: Int): Column = {
    val ymd = concat(year(ts), lit("-"), month(ts), lit("-"), dayofmonth(ts))
    processing match {
      case "day"   => ymd
      case "month" => concat(year(ts), lit("-"), month(ts))
      case "year"  => year(ts).cast("string")
      case "hour"  => concat(ymd, lit("T"), hour(ts), lit(":00:00"))
      case "minute" =>
        val m = (floor(minute(ts) / offset) * offset).cast("int")
        concat(ymd, lit("T"), hour(ts), lit(":"),
          lpad(m.cast("string"), 2, "0"), lit(":00"))
      case "second" =>
        concat(ymd, lit("T"), hour(ts), lit(":"), minute(ts), lit(":"), second(ts))
      case _ => ts.cast("string")
    }
  }

  /** Bare HH:MM:SS bucketing for `time`-typed fields (no date): keeps
    * the original string parts before the bucketed unit, zero-pads the
    * bucketed unit (miw/log_format.cc:445-472). Non-3-part tokens pass
    * through unchanged; a non-numeric unit reads as C atoi does
    * ([[FieldKernels.timeBucket]]). */
  def timeBucket(token: Column, processing: String, offset: Int): Column =
    kernel(TimeBucket(_, processing, offset))(token)

  // ----------------------------------------------------------------- urls

  /** Rebuild a URL through the field's url_format template
    * (%scheme %host %port %path %query %fragment; default
    * "%scheme://%host%port"). %port renders ":<port>" when present.
    * Tokens without a scheme, containing "://[" (IPv6 — reference
    * works around a parser hang), or that do not parse as a URI pass
    * through unchanged. One java.net.URI parse per token, read through
    * the same getters as Spark's parse_url ([[FieldKernels.urlNormalize]]).
    * (reference: miw/log_format.cc:473-500) */
  def urlNormalize(token: Column, urlFormat: String): Column =
    kernel(UrlNormalize(_, urlFormat))(token)

  // ---------------------------------------------------------------- casts

  /** C atoi (miw/log_format.cc:506), with strtoll semantics: leading
    * C whitespace skipped, an optional sign, then decimal digits; 0
    * when there are none (`-`, `abc`, empty, null); saturates at
    * Long.MinValue/Long.MaxValue. Never null and never throws, so a
    * dirty token cannot fail a job under ANSI mode. */
  def atoi(token: Column): Column = kernel(CAtoi)(token)

  /** C atof (strtod): the longest leading decimal or hex float, `inf`,
    * `infinity` or `nan` after C whitespace and an optional sign; 0.0
    * when none converts (`-`, `x1.5`, empty, null). Never throws. */
  def atof(token: Column): Column = kernel(CAtof)(token)

  /** bool via atoi != 0 (miw/log_format.cc:529). */
  def atob(token: Column): Column = (atoi(token) =!= 0L).cast(BooleanType)

  private def kernel(k: Expression => Expression)(token: Column): Column =
    Shim.column(k(Shim.expression(token)))

  // -------------------------------------------------------- preprocessing

  /** "… -> k1 = v1 k2 = v2" EVTX blob → map (evtxcsv,
    * miw/log_format.cc:606-644). Key of each pair is the last
    * space-separated word before the '='. */
  def evtxcsvParse(token: String): Map[String, String] = {
    if (token == null) return Map.empty
    val arrow = token.indexOf("->")
    val remain = if (arrow >= 0) token.substring(arrow + 2) else token
    val toks = Tokenizer.simpleSplit(remain, "=")
    if (toks.isEmpty) return Map.empty
    var head = toks.head
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (i <- 1 until toks.length) {
      var r = toks(i)
      var nhead = ""
      if (i < toks.length - 1) {
        r = r.substring(0, math.max(0, r.length - 1))
        val sp = r.lastIndexOf(' ')
        if (sp >= 0) { nhead = r.substring(sp); r = r.substring(0, sp) }
      }
      out(head.trim) = r.trim
      head = nhead
    }
    out.toMap
  }

  /** "[Key: value] [Key2: value2]" blob → map (evtxcsv2,
    * miw/log_format.cc:646-678). */
  def evtxcsv2Parse(token: String): Map[String, String] = {
    if (token == null) return Map.empty
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (pair <- Tokenizer.simpleSplit(token, "[")) {
      val elts = Tokenizer.simpleSplit(pair, ":")
      if (elts.length >= 2) {
        val name = elts.head.trim
        var v = elts.tail.mkString("").trim
        if (v.nonEmpty && v.last == ']') v = v.dropRight(1)
        out(name) = v
      }
    }
    out.toMap
  }

  val evtxcsvUdf = udf(evtxcsvParse _)
  val evtxcsv2Udf = udf(evtxcsv2Parse _)

  /** Microsoft DNS wire-format name: "(3)www(6)google(3)com(0)" →
    * "www.google.com" (miw/log_format.cc:680-716). The tail from the
    * first '(' has each "(n)" length marker replaced by a dot; leading
    * and trailing dots trimmed. */
  def dnsNameCol(tail: Column): Column = {
    val p = instr(trim(tail), "(")
    val rest = substr(trim(tail), p) // from the first '(' to end
    when(p > 0,
      regexp_replace(regexp_replace(rest, "\\([0-9]+\\)", "."), "^\\.|\\.$", ""))
      .otherwise(lit(null))
  }
}
