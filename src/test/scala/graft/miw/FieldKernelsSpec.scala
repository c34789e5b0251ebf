package graft.miw

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The native per-token kernels: C numeric conversions on dirty
  * tokens, URL rebuild against Spark's own try_parse_url, and the
  * time-of-day bucket — each through generated code (a DataFrame) and
  * through interpreted eval, and none failing a job under ANSI mode. */
class FieldKernelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** `f` over `tokens` through whole-stage codegen, in input order. */
  private def viaPlan(tokens: Seq[String], f: Column => Column): Seq[Any] = {
    import spark.implicits._
    tokens.map(Option(_)).toDF("t").select(f(col("t"))).collect().map(_.get(0)).toSeq
  }

  /** The same kernel through interpreted eval. */
  private def viaEval(tokens: Seq[String], k: Expression => Expression): Seq[Any] =
    tokens.map(t => k(Literal.create(Option(t).map(UTF8String.fromString).orNull, StringType)).eval() match {
      case u: UTF8String => u.toString
      case v => v
    })

  private def check(tokens: Seq[String], expected: Seq[Any], f: Column => Column,
                    k: Expression => Expression): Unit = {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val plan = viaPlan(tokens, f)
    val eval = viaEval(tokens, k)
    for (((t, e), (p, v)) <- tokens.zip(expected).zip(plan.zip(eval))) {
      // NaN != NaN: compare doubles by their bits
      def same(a: Any) = (a, e) match {
        case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
        case _ => a == e
      }
      assert(same(p), s"codegen <$t>: $p != $e")
      assert(same(v), s"eval <$t>: $v != $e")
    }
  }

  test("atoi has C strtoll semantics: 0 without digits, saturating at the Long bounds") {
    val cases = Seq(
      "-" -> 0L, "abc" -> 0L, "" -> 0L, "+7" -> 7L, "  42x" -> 42L,
      "99999999999999999999" -> Long.MaxValue, "-99999999999999999999" -> Long.MinValue,
      "9223372036854775807" -> Long.MaxValue, "-9223372036854775808" -> Long.MinValue,
      "\t-12 " -> -12L, "+-5" -> 0L, "007" -> 7L, "1.9" -> 1L, (null: String) -> 0L)
    check(cases.map(_._1), cases.map(_._2), FieldExprs.atoi, CAtoi)
  }

  test("atof has C atof semantics") {
    val cases = Seq(
      ".5" -> 0.5, "1e3" -> 1000.0, "x1.5" -> 0.0, "-" -> 0.0, "" -> 0.0,
      " -2.5e-1x" -> -0.25, "1e" -> 1.0, "1.e2" -> 100.0, "5." -> 5.0, "." -> 0.0,
      "0x1A" -> 26.0, "0x1.8p1" -> 3.0, "0xg" -> 0.0, "-0xg" -> -0.0, "-0" -> -0.0, "1e999" -> Double.PositiveInfinity,
      "-Infinity" -> Double.NegativeInfinity, "inf" -> Double.PositiveInfinity,
      "nan" -> Double.NaN, "0.1" -> 0.1, (null: String) -> 0.0)
    check(cases.map(_._1), cases.map(_._2), FieldExprs.atof, CAtof)
  }

  test("a dirty numeric token no longer fails the job under ANSI mode") {
    val fmt = LogFormat.parse(
      """{"format_name":"t","delims":",","fields":[
          {"name":"k","pos":0,"type":"string","key":true},
          {"name":"n","pos":1,"type":"int","aggregated":true,"aggregation":"sum"},
          {"name":"x","pos":1,"type":"float","aggregated":true,"aggregation":"sum"},
          {"name":"b","pos":1,"type":"bool"}]}""")
    val r = MiwEngine.runOnLines(spark, fmt, Seq("a,-", "a,abc", "a,99999999999999999999x"))
      .collect().head
    assert(r.getAs[Long]("logs") == 3L)
    assert(r.getAs[Long]("n") == Long.MaxValue && r.getAs[Double]("x") == 1e20)
    val small = MiwEngine.runOnLines(spark, fmt, Seq("a,-", "a,abc", "a,", "a,+7")).collect().head
    assert(small.getAs[Long]("n") == 7L && small.getAs[Double]("x") == 7.0)
    // an epoch-seconds date that is not a number keeps its raw token
    val unix = LogFormat.parse(
      """{"format_name":"t","delims":",","fields":[
          {"name":"d","pos":0,"type":"date","date_format":"unix","processing":"day","key":true}]}""")
    val ids = MiwEngine.runOnLines(spark, unix, Seq("86400", "later")).collect().map(_.getAs[String]("id"))
    assert(ids.toSet == Set("1970-1-2", "later"))
  }

  /** The pre-kernel rebuild, with try_parse_url in place of parse_url:
    * a Catalyst composition of Spark's own URL parser. */
  private def oracle(tok: Column, format: String): Column = {
    def part(p: String) = coalesce(try_parse_url(tok, lit(p)), lit(""))
    val port = {
      val p = regexp_extract(part("AUTHORITY"), ":(\\d+)$", 1)
      when(p =!= "", concat(lit(":"), p)).otherwise(lit(""))
    }
    val parts = Map("scheme" -> part("PROTOCOL"), "host" -> part("HOST"), "port" -> port,
      "path" -> part("PATH"), "query" -> part("QUERY"), "fragment" -> part("REF"))
    val tpl = FieldKernels.urlTemplate(format)
    val rebuilt = concat(tpl.pieces.indices.map(k =>
      if (tpl.isPart(k)) parts(tpl.pieces(k)) else lit(tpl.pieces(k))): _*)
    val scheme = try_parse_url(tok, lit("PROTOCOL"))
    when(tok.contains("://["), tok).when(scheme.isNull || scheme === "", tok).otherwise(rebuilt)
  }

  private val urls = Seq(
    "https://h.example.com:8443/a/b?x=1#top", "http://h.example.com/a", "http://h.example.com",
    "https://user:pw@h.example.com:444/p", "ftp://user@files.example.org/pub",
    "http://h.example.com/p?q=a%20b&r=2", "http://h.example.com/#frag", "HTTP://UP.example.com:80",
    "http://a_b.example.com:81/x", "http://h.example.com:/x", "mailto:someone@example.com",
    "http://[::1]:8080/x", "h.example.com/no/scheme", "/relative/path", "", "http://", "x:",
    (null: String))
  private val invalid = Seq("http://x.com/a|b", "http://x.com/%zz", "http://x.com/a b", "ht tp://x")

  for (format <- Seq("%scheme://%host%port", "%scheme://%host%port%path?%query#%fragment"))
    test(s"urlNormalize agrees with a try_parse_url composition: $format") {
      val tokens = urls ++ invalid
      val got = viaPlan(tokens, FieldExprs.urlNormalize(_, format))
      val want = viaPlan(tokens, oracle(_, format))
      val eval = viaEval(tokens, UrlNormalize(_, format))
      for (((t, g), (w, e)) <- tokens.zip(got).zip(want.zip(eval))) {
        assert(g == w, s"<$t>")
        assert(e == w, s"eval <$t>")
      }
      // unparseable tokens pass through unchanged instead of failing
      assert(got.drop(urls.size) == invalid)
      val byToken = tokens.zip(got).toMap
      assert(byToken("https://user:pw@h.example.com:444/p").toString.startsWith("https://h.example.com:444"))
      assert(byToken("http://[::1]:8080/x") == "http://[::1]:8080/x")
      assert(byToken("h.example.com/no/scheme") == "h.example.com/no/scheme")
    }

  test("timeBucket keeps its bucketing and reads a non-numeric unit as atoi") {
    val cases = Seq(
      ("13:47:09", "minute", 10, "13:40"), ("13:47:09", "hour", 1, "13"),
      ("13:47:09", "second", 15, "13:47:00"), (" 7:05:59 ", "hour", 6, "06"),
      ("13:47", "minute", 10, "13:47"), ("ab:cd:ef", "minute", 10, "ab:00"),
      ("a:b:c:d", "hour", 1, "a:b:c:d"), ("13:147:00", "minute", 1, "13:14"))
    for ((t, p, off, want) <- cases)
      check(Seq(t), Seq(want), FieldExprs.timeBucket(_, p, off), TimeBucket(_, p, off))
    check(Seq(null), Seq(null), FieldExprs.timeBucket(_, "hour", 1), TimeBucket(_, "hour", 1))
  }
}
