package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Project}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.miw.{LogFormat, MiwEngine, Tokenizer}

/** The line-fields generator vs the Scala reference tokenizer over
  * random inputs (including quotes, runs of delimiters, unclosed
  * quotes, and multi-byte UTF-8 content), and a plan guard: the
  * engine tokenizes each line exactly once, in one generator. */
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

  private val positions = Seq(0, 1, 3)
  private val tailPos = 2

  /** Reference token with every '"' removed, as the generator emits it. */
  private def strip(t: String): String = t.replace("\"", "")

  /** Spark's trim: spaces only. */
  private def trimSpaces(s: String): String = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse

  // "\"" must agree with quotedSplit; "" (a format without a quotechar)
  // with simpleSplit, quotes then being ordinary characters
  private val cases = Seq[(String, String, String => Vector[String])](
    ("Tokenizer.quotedSplit on random lines", "\"", Tokenizer.quotedSplit(_, ", ", '"')),
    ("Tokenizer.simpleSplit on random lines (no quotechar)", "",
      Tokenizer.simpleSplit(_, ", ")))

  for ((name, quotechar, reference) <- cases)
    test(s"expression agrees with $name") {
      import spark.implicits._
      val names = "ntok" +: (positions.map(p => s"f$p") :+ s"tail$tailPos")
      val df = samples.toDF("line").select(col("line"),
        LineFields.column(col("line"), ", ", quotechar, positions, Seq(tailPos), names))
      val rows = df.collect()
      assert(rows.length == samples.size)
      rows.foreach { r =>
        val line = r.getString(0)
        val ref = reference(line)
        assert(r.getInt(1) == ref.size, s"line=<$line>")
        for ((p, k) <- positions.zipWithIndex)
          assert(Option(r.getString(2 + k)) == ref.lift(p).map(strip), s"pos $p line=<$line>")
        assert(Option(r.getString(2 + positions.size)) ==
          (if (ref.size > tailPos) Some(ref.drop(tailPos).mkString) else None), s"line=<$line>")
      }

      // through the engine: a line is kept exactly when the reference
      // has more tokens than the format's highest read position
      val fmt = LogFormat.parse(
        s"""{"format_name":"t","delims":", ","quotechar":"${quotechar.replace("\"", "\\\"")}",
            "fields":[{"name":"k","pos":0,"type":"string","key":true},
                      {"name":"v","pos":2,"type":"string"}]}""")
      val got = MiwEngine.parse(fmt, samples.toDF("value"))
        .select("__miw_key", "v").as[(String, String)].collect().toSeq
      val expected = samples.map(reference).filter(_.size > 2)
        .map(t => (strip(t(0)), trimSpaces(strip(t(2)))))
      assert(got == expected)
    }

  /** Exactly one tokenizing generator, no tokenizer in any Filter or
    * Project, and none of the per-token regex/URL/array expressions the
    * generator and kernels replace. */
  private def assertOnePass(parsed: DataFrame): Unit = {
    val plan = parsed.queryExecution.optimizedPlan
    val gens = plan.collect { case g: Generate => g.generator }
    assert(gens.size == 1 && gens.head.isInstanceOf[LineFields], plan)
    plan.foreach {
      case f: Filter => assert(!f.condition.exists(_.isInstanceOf[LineFields]), plan)
      case p: Project => assert(!p.projectList.exists(_.exists(_.isInstanceOf[LineFields])), plan)
      case _ =>
    }
    val text = plan.toString.toLowerCase
    for (banned <- Seq("regexp_replace", "parse_url", "parseurl", "regexp_extract", "element_at", "udf("))
      assert(!text.contains(banned), s"$banned in\n$plan")
    val executed = parsed.queryExecution.executedPlan
    assert("line_fields\\(".r.findAllIn(executed.toString).size == 1, executed)
    // the bounds filter and the field projection above the generator
    // stay in whole-stage codegen (no CodegenFallback kernel)
    def unfused(p: SparkPlan): Seq[SparkPlan] = p match {
      case w: WholeStageCodegenExec => fusedInputs(w.child)
      case _: FilterExec | _: ProjectExec => p +: p.children.flatMap(unfused)
      case _ => p.children.flatMap(unfused)
    }
    def fusedInputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case i: InputAdapter => unfused(i.child)
      case _ => p.children.flatMap(fusedInputs)
    }
    assert(unfused(executed).isEmpty, executed)
  }

  for ((name, fmt) <- Seq(
      "(no UDF in plan)" -> (() => LogFormat.parseFile("perfbench/formats/proxy.json")),
      "without a quotechar (no UDF, no split)" -> (() => LogFormat.parse(
        """{"format_name":"t","delims":",","quotechar":"","fields":[
            {"name":"k","pos":0,"type":"string","key":true},
            {"name":"n","pos":1,"type":"int","aggregated":true,"aggregation":"sum"},
            {"name":"u","pos":2,"type":"url"}]}"""))))
    test(s"engine pipeline uses the native expression $name") {
      import spark.implicits._
      val parsed = MiwEngine.parse(fmt(), Seq("a,b").toDF("value"))
      assertOnePass(parsed)
      assert(!parsed.queryExecution.optimizedPlan.toString.contains("split("))
    }

  test("a non-ASCII delimiter without a quotechar takes the String fallback over simpleSplit") {
    import spark.implicits._
    // '§' is C2 A7 in UTF-8 and 'ç' is C3 A7: a scanner comparing the
    // delimiter's truncated byte would split inside every 'ç'
    val gen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf('§', ' '), 1 -> Gen.oneOf('ç', '漢'))).map(_.mkString)
    val lines = (0 until 200).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("aç§bç§§c", "§§", "ç ç ç")
    val fmt = LogFormat.parse(
      """{"format_name":"t","delims":"§ ","quotechar":"","fields":[
          {"name":"k","pos":0,"type":"string","key":true},
          {"name":"v","pos":2,"type":"string"}]}""")
    val parsed = MiwEngine.parse(fmt, lines.toDF("value"))
    assertOnePass(parsed)
    val expected = lines.map(Tokenizer.simpleSplit(_, "§ ")).filter(_.size > 2)
      .map(t => (t(0), t(2)))
    val got = parsed.select(parsed.columns.head, "v").as[(String, String)].collect().toSeq
    assert(expected.nonEmpty && got == expected)
  }
}
