package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.miw.Tokenizer

/** Native tokenizer vs the Scala reference implementation over random
  * inputs (including quotes, runs of delimiters, unclosed quotes, and
  * multi-byte UTF-8 content). */
class TokenizeExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val lineGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(',', ' '),
    1 -> Gen.const('"'),
    1 -> Gen.oneOf('é', '漢', 'ß'))).map(_.mkString)

  private val samples = (0 until 300).flatMap(i =>
    lineGen.apply(Gen.Parameters.default, Seed(i.toLong))) ++ Seq(
    "a,\"b,c\",d", "\"unclosed, span", "a,,b", ",,,", "", "\"\"",
    "x \"quoted bit\" y", "\"q\",", "a\"b,c")

  // Some(quote) must agree with quotedSplit; None (a format without a
  // quotechar) with simpleSplit, quotes then being ordinary characters
  private val cases = Seq[(String, Option[Char], String => Vector[String])](
    ("Tokenizer.quotedSplit on random lines", Some('"'), Tokenizer.quotedSplit(_, ", ", '"')),
    ("Tokenizer.simpleSplit on random lines (no quotechar)", None,
      Tokenizer.simpleSplit(_, ", ")))

  for ((name, quote, reference) <- cases)
    test(s"expression agrees with $name") {
      import spark.implicits._
      val df = samples.toDF("line")
        .select(col("line"), TokenizeExpr.tokenize(col("line"), ", ", quote).as("toks"))
      df.collect().foreach { r =>
        val line = r.getString(0)
        val got = r.getAs[scala.collection.Seq[String]]("toks").toVector
        assert(got == reference(line), s"line=<$line>")
      }
    }

  for ((name, quotechar) <- Seq("(no UDF in plan)" -> "\\\"",
                                "without a quotechar (no UDF, no split)" -> ""))
    test(s"engine pipeline uses the native expression $name") {
      import spark.implicits._
      val fmt = graft.miw.LogFormat.parse(
        s"""{"format_name":"t","delims":",","quotechar":"$quotechar","fields":[
            {"name":"k","pos":0,"type":"string","key":true}]}""")
      val plan = graft.miw.MiwEngine
        .parse(fmt, Seq("a,b").toDF("value")).queryExecution.analyzed.toString
      assert(plan.contains("quoted_tokenize"), plan)
      assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("UDF("), plan)
      assert(!plan.contains("split("), plan)
    }

  test("a non-ASCII delimiter without a quotechar takes the UDF fallback over simpleSplit") {
    import spark.implicits._
    // '§' is C2 A7 in UTF-8 and 'ç' is C3 A7: a scanner comparing the
    // delimiter's truncated byte would split inside every 'ç'
    val gen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf('§', ' '), 1 -> Gen.oneOf('ç', '漢'))).map(_.mkString)
    val lines = (0 until 200).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("aç§bç§§c", "§§", "ç ç ç")
    val fmt = graft.miw.LogFormat.parse(
      """{"format_name":"t","delims":"§ ","quotechar":"","fields":[
          {"name":"k","pos":0,"type":"string","key":true},
          {"name":"v","pos":2,"type":"string"}]}""")
    val parsed = graft.miw.MiwEngine.parse(fmt, lines.toDF("value"))
    val plan = parsed.queryExecution.analyzed.toString
    assert(plan.contains("UDF(") && !plan.contains("quoted_tokenize"), plan)
    val expected = lines.map(Tokenizer.simpleSplit(_, "§ ")).filter(_.size > 2)
      .map(t => (t(0), t(2)))
    val got = parsed.select(parsed.columns.head, "v").as[(String, String)].collect().toSeq
    assert(expected.nonEmpty && got == expected)
  }
}
