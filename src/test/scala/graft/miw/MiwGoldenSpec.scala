package graft.miw

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.miw.MiwGoldenFixtures._

/** The reference's end-to-end golden tests (tests/ut-mr-parsing.cc),
  * re-run through the Spark engine on the same fixture bytes and
  * asserted against the same golden values (FIXTURES.md; numeric
  * asserts are exact — the engine replicates the reference's
  * expression order, including float32 ratio artifacts).
  */
class MiwGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def run(formatJson: String, lines: Seq[String],
                  opts: MiwEngine.Options = MiwEngine.Options()) =
    MiwEngine.runOnLines(spark, LogFormat.parse(formatJson), lines, opts)

  // ---- fixture 1: sum (ut-mr-parsing.cc:374-404) ----
  test("sum: v1=16, v2=17, logs=6") {
    val rows = run(sum.format, sum.lines).collect()
    assert(rows.length == 1)
    val r = rows.head
    // a declared field named "id" overwrites the key in the output
    // record (reference JSON assembly order) — here it's the int field
    assert(r.getAs[Long]("id") == 1L)
    assert(r.getAs[Long]("logs") == 6L)
    assert(r.getAs[Long]("v1") == 16L)
    assert(r.getAs[Double]("v2") == 17.0)
  }

  // ---- fixture 2: variance (ut-mr-parsing.cc:124-161) ----
  test("variance: var=1.8666666666666671 (naive formula, n-1)") {
    val r = run(variance.format, variance.lines).collect().head
    assert(r.getAs[Double]("var") == 1.8666666666666671)
  }

  // ---- fixture 3: variance-mean-sum, one token → 3 fields
  //      (ut-mr-parsing.cc:163-194) ----
  test("variance-mean-sum over one column") {
    val r = run(varianceMeanSum.format, varianceMeanSum.lines).collect().head
    assert(r.getAs[Double]("variance") == 1.8666666666666671)
    assert(r.getAs[Double]("mean") == 2.6666666666666665)
    assert(r.getAs[Long]("sum") == 16L)
  }

  // ---- fixture 4: filter_contain (ut-mr-parsing.cc:196-226) ----
  test("filter_contain: denied_count=2, ok_count=3") {
    val r = run(filterContain.format, filterContain.lines).collect().head
    assert(r.getAs[Long]("denied_count") == 2L)
    assert(r.getAs[Long]("ok_count") == 3L)
    assert(r.getAs[Long]("logs") == 5L)
  }

  // ---- fixture 5: substring match keeps (ut-mr-parsing.cc:228-259) ----
  test("match substring 'and': KO row dropped, OOKK rows kept") {
    val rows = run(matchSubstring.format, matchSubstring.lines).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("val") == "OOKK"))
  }

  // ---- fixture 6: exact match (ut-mr-parsing.cc:300-336) ----
  test("match exact: only literal OK rows survive") {
    val rows = run(matchExact.format, matchExact.lines).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("val") == "OK"))
  }

  // ---- fixture 7: exact negative match (ut-mr-parsing.cc:338-372) ----
  test("match exact negative: only literal KO rows killed") {
    val rows =
      run(matchExactNegative.format, matchExactNegative.lines).collect()
    assert(rows.map(_.getAs[String]("val")).sorted.toSeq == Seq("KO2", "OK", "OK"))
  }

  // ---- fixture 8: match_file negative (FIXTURES.md §8) ----
  test("match_file negative: dictionary rows dropped (anti-join semantics)") {
    val rows = run(matchFileNegative.format, matchFileNegative.lines).collect()
    assert(rows.map(_.getAs[String]("id")).sorted.toSeq == Seq("1", "4"))
  }

  // ---- fixture 9: ratio incl. float32 artifacts and /logs
  //      (ut-mr-parsing.cc:406-435) ----
  test("ratio: iratio/fratio = 16/28 in float32, tratio = 16/6 in float32") {
    val r = run(ratio.format, ratio.lines).collect().head
    assert(r.getAs[Double]("iratio") == 0.57142859697341919)
    assert(r.getAs[Double]("fratio") == 0.57142859697341919)
    assert(r.getAs[Double]("tratio") == 2.6666667461395264)
  }

  // ---- tokenizer: quoted spans with embedded delimiters ----
  test("quote-aware tokenizer keeps quoted spans whole, drops empties") {
    assert(Tokenizer.quotedSplit("""a,"b,c",d""", ",", '"') ==
      Vector("a", "\"b,c\"", "d"))
    assert(Tokenizer.quotedSplit("a,,b", ",", '"') == Vector("a", "b"))
    assert(Tokenizer.quotedSplit("""x "y z" w""", " ", '"') ==
      Vector("x", "\"y z\"", "w"))
    assert(Tokenizer.simpleSplit("a  b c ", " ") == Vector("a", "b", "c"))
  }

  // ---- date bucketing: unpadded month/day (SURVEY §7.4 hazard 7) ----
  test("date bucket day is unpadded, minute bucket uses offset") {
    val rows = run(dateBucket.format, dateBucket.lines).collect().sortBy(_.getAs[String]("id"))
    assert(rows.map(_.getAs[String]("id")).toSeq == Seq("2012-11-30", "2012-3-5"))
    assert(rows.map(_.getAs[Long]("v")).toSeq == Seq(5L, 3L))
  }

  test("time-of-day minute bucket with offset 10 (evtx.json style)") {
    val rows =
      run(minuteBucket.format, minuteBucket.lines).collect().sortBy(_.getAs[String]("id"))
    assert(rows.map(r => (r.getAs[String]("id"), r.getAs[Long]("v"))).toSeq ==
      Seq(("14:30", 3L), ("14:40", 4L)))
  }

  // ---- union / union_count ----
  test("union collects sorted distinct strings; union_count pairs counts") {
    val rows = run(union.format, union.lines).collect().sortBy(_.getAs[String]("id"))
    val a = rows(0)
    assert(a.getAs[scala.collection.Seq[String]]("u").toSeq == Seq("x", "y", "z"))
    assert(a.getAs[scala.collection.Seq[String]]("uc").toSeq == Seq("x", "y", "z"))
    assert(a.getAs[scala.collection.Seq[Long]]("uc_count").toSeq == Seq(2L, 1L, 1L))
  }

  // ---- url normalization ----
  test("url normalize rebuilds via url_format template") {
    val rows = run(url.format, url.lines).collect()
    val byId = rows.map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap
    assert(byId == Map("http://example.com:8080" -> 3L, "noscheme" -> 7L))
  }

  // ---- preprocessing parsers ----
  test("evtxcsv blob parser extracts key=value pairs") {
    val m = FieldExprs.evtxcsvParse("EventData -> Foo = 12 Bar = ok Baz = x")
    assert(m == Map("Foo" -> "12", "Bar" -> "ok", "Baz" -> "x"))
  }

  test("evtxcsv2 bracket parser extracts pairs") {
    val m = FieldExprs.evtxcsv2Parse("[Key: value] [K2: v2]")
    assert(m == Map("Key" -> "value", "K2" -> "v2"))
  }

  test("microsoft dns name decode") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("(3)www(6)google(3)com(0)").toDF("t")
      .select(FieldExprs.dnsNameCol(col("t")).as("d"))
    assert(df.collect().head.getString(0) == "www.google.com")
  }

  // ---- std_date_dt synthesis ----
  test("std_date_dt joins date and time buckets") {
    val r = run(stdDateDt.format, stdDateDt.lines).collect().head
    assert(r.getAs[String]("std_date_dt") == "2014-1-7T09Z")
  }

  // ---- evtx preprocessing through the full engine pipeline ----
  test("evtxcsv preprocessing emits the parsed kv map beside the raw field") {
    val r = run(evtxcsv.format, evtxcsv.lines).collect().head
    val kv = r.getAs[Map[String, String]]("blob_kv")
    assert(kv == Map("k1" -> "v1", "k2" -> "v2"))
    assert(r.getAs[Long]("logs") == 2L)
  }

  // ---- store_content retains raw lines per group ----
  test("store_content collects the group's raw lines") {
    val fmt = LogFormat.parse(
      """{"format_name":"t","delims":",","fields":[
          {"name":"k","pos":0,"type":"string","key":true}]}""")
    val rows = MiwEngine.runOnLines(spark, fmt, Seq("a,1", "a,2", "b,9"),
      MiwEngine.Options(storeContent = true)).collect()
    val a = rows.find(_.getAs[String]("id") == "a").get
    assert(a.getAs[scala.collection.Seq[String]]("content").sorted == Seq("a,1", "a,2"))
    val b = rows.find(_.getAs[String]("id") == "b").get
    assert(b.getAs[scala.collection.Seq[String]]("content").toSeq == Seq("b,9"))
  }

  // ---- production format over the shipped sample: proxy=2 groups
  //      (the disabled integration test, ut-mr-parsing.cc:37-49; the
  //      shipped file holds 4 data lines — 2 per user — despite its
  //      name, so 2 groups × 2 logs) ----
  test("proxy_format over web_proxy_10lines.log yields the 2 reference groups") {
    val fmtFile = "/root/reference/miw/formats/proxy_format.json"
    val dataFile = "/root/reference/data/web_proxy_10lines.log"
    assume(new java.io.File(fmtFile).exists() && new java.io.File(dataFile).exists())
    val fmt = LogFormat.parseFile(fmtFile)
    val rows = MiwEngine.run(spark, fmt, Seq(dataFile)).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("logs")).sorted.toSeq == Seq(2L, 2L))
    // day-bucketed unpadded date is part of each composite key
    assert(rows.forall(_.getAs[String]("id").contains("2012-11-30")))
  }
}
