package graft.miw

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.ValueCounts
import graft.streaming.MiwStreaming

/** Plan guard for the MIW aggregate: string union and union_count
  * fields merge in the value-count kernel inside the one partial/final
  * aggregate pair, with no collect_set, map or lambda around it. */
class AggregatePlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  /** Runs `fmt` over `lines` written to a file, through `MiwEngine.run`,
    * and returns its executed (final adaptive) plan. */
  private def executedPlan(fmt: LogFormat, lines: Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("miwplan")
    val file = dir.resolve("log.txt")
    java.nio.file.Files.write(file, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val df = MiwEngine.run(spark, fmt, Seq(file.toString))
    df.collect()
    df.queryExecution.executedPlan
  }

  test("the bench proxy format plans value_counts for category and url, nothing else") {
    val fmt = LogFormat.parseFile("perfbench/formats/proxy.json")
    val line = (u: String, cat: String, url: String) =>
      s"""2024-01-02 10:11:12 5 a b TCP_DENIED 100 c d e f g h i $u j k l "$cat" $url"""
    val plan = executedPlan(fmt, Seq(
      line("u1", "News", "http://x.com/a"), line("u1", "Sports", "http://y.com/b"),
      line("u2", "News", "http://x.com/c")))
    val aggs = collect(plan) { case a: BaseAggregateExec => a }
    val modes = aggs.map(_.aggregateExpressions.map(_.mode).distinct)
    assert(modes.sortBy(_.toString) == Seq(Seq(Final), Seq(Partial)), plan)
    for (a <- aggs) {
      val kernelInputs = a.aggregateExpressions.map(_.aggregateFunction).collect {
        case v: ValueCounts => v.child.references.map(_.name).mkString
      }
      assert(kernelInputs.sorted == Seq("category", "url"), plan)
    }
    val text = plan.toString.toLowerCase
    for (banned <- Seq("unioncount", "collect_set", "map_keys", "element_at", "transform",
        "lambdafunction"))
      assert(!text.contains(banned), s"$banned in\n$plan")
  }

  test("the streaming aggregate plans the batch aggregate expressions on the bench proxy format") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val fmt = LogFormat.parseFile("perfbench/formats/proxy.json")
    def aggExprs(df: DataFrame) = df.queryExecution.analyzed.collect {
      case a: Aggregate => a.aggregateExpressions.map(_.toString.replaceAll("#\\d+", ""))
    }
    val streamed = aggExprs(MiwStreaming.aggregateStream(fmt, MemoryStream[String].toDF()))
    val batch = aggExprs(MiwEngine.aggregate(fmt, MiwEngine.parse(fmt, Seq("x").toDF("value"))))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("a numeric union still concatenates through collect_list") {
    val fmt = LogFormat.parse(
      """{"format_name":"t","delims":",","fields":[
          {"name":"k","pos":0,"type":"string","key":true},
          {"name":"n","pos":1,"type":"int","aggregated":true,"aggregation":"union"}]}""")
    val plan = executedPlan(fmt, Seq("a,2", "a,1", "a,2"))
    assert(plan.toString.contains("collect_list"), plan)
    assert(!plan.toString.contains("value_counts"), plan)
  }
}
