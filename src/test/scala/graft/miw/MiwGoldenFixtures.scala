package graft.miw

/** Format JSON and input lines of the [[MiwGoldenSpec]] fixtures whose
  * format is inline. The golden spec asserts the reference's values on
  * them; the streaming spec replays each one through micro-batches and
  * asserts the batch engine's output. */
object MiwGoldenFixtures {

  final case class Fixture(name: String, format: String, lines: Seq[String])

  private def fmtJson(fields: String): String =
    s"""{"format_name":"t","delims":",","quotechar":"\\"","fields":[$fields]}"""

  // ---- fixture 1: sum (ut-mr-parsing.cc:374-404) ----
  val sum = Fixture("sum", fmtJson(
    """{"name":"id","pos":0,"type":"int","key":true},
       {"name":"v1","pos":1,"type":"int","aggregated":true,"aggregation":"sum"},
       {"name":"v2","pos":2,"type":"float","aggregated":true,"aggregation":"sum"}"""),
    Seq("1,3,3.5", "1,1,1.0", "1,5,5.0", "1,3,3.5", "1,2,2.0", "1,2,2.0"))

  // ---- fixture 2: variance (ut-mr-parsing.cc:124-161) ----
  val variance = Fixture("variance", fmtJson(
    """{"name":"id","pos":0,"type":"int","key":true},
       {"name":"var","pos":1,"type":"float","aggregated":true,"aggregation":"variance"}"""),
    Seq("1,3", "1,1", "1,5", "1,3", "1,2", "1,2"))

  // ---- fixture 3: variance-mean-sum, one token → 3 fields
  //      (ut-mr-parsing.cc:163-194) ----
  val varianceMeanSum = Fixture("variance-mean-sum", fmtJson(
    """{"name":"id","pos":0,"type":"int","key":true},
       {"name":"variance","pos":1,"type":"int","aggregated":true,"aggregation":"variance"},
       {"name":"mean","pos":1,"type":"int","aggregated":true,"aggregation":"mean"},
       {"name":"sum","pos":1,"type":"int","aggregated":true,"aggregation":"sum"}"""),
    Seq("1,3", "1,1", "1,5", "1,3", "1,2", "1,2"))

  // ---- fixture 4: filter_contain (ut-mr-parsing.cc:196-226) ----
  val filterContain = Fixture("filter_contain", fmtJson(
    """{"name":"id","pos":0,"type":"int","key":true},
       {"name":"str","pos":1,"type":"string"},
       {"name":"denied_count","pos":1,"type":"int","filter":"denied","filter_type":"contain"},
       {"name":"ok_count","pos":1,"type":"int","filter":"ok","filter_type":"contain"}"""),
    Seq("1,ok", "1,denied", "1,ok", "1,denied", "1,ok"))

  // ---- fixture 5: substring match keeps (ut-mr-parsing.cc:228-259) ----
  val matchSubstring = Fixture("match substring", fmtJson(
    """{"name":"id","pos":0,"type":"string","key":true},
       {"name":"val","pos":1,"type":"string"},
       {"name":"testmatch","pos":1,"type":"string",
        "match":{"match_str":"OK","logic":"and"}}"""),
    Seq("1,OOKK", "2,OOKK", "3,KO"))

  // ---- fixture 6: exact match (ut-mr-parsing.cc:300-336) ----
  val matchExact = Fixture("match exact", fmtJson(
    """{"name":"id","pos":0,"type":"string","key":true},
       {"name":"val","pos":1,"type":"string"},
       {"name":"testmatch","pos":1,"type":"string",
        "match":{"match_str":"OK","logic":"and","exact":true}}"""),
    Seq("1,OK", "2,OK", "3,KO", "4,KO2"))

  // ---- fixture 7: exact negative match (ut-mr-parsing.cc:338-372) ----
  val matchExactNegative = Fixture("match exact negative", fmtJson(
    """{"name":"id","pos":0,"type":"string","key":true},
       {"name":"val","pos":1,"type":"string"},
       {"name":"testmatch","pos":1,"type":"string",
        "match":{"match_str":"KO","logic":"and","negative":true,"exact":true}}"""),
    Seq("1,OK", "2,OK", "3,KO", "4,KO2"))

  // ---- fixture 8: match_file negative (FIXTURES.md §8) ----
  lazy val matchFileNegative: Fixture = {
    val dict = java.nio.file.Files.createTempFile("match_file", ".txt")
    java.nio.file.Files.writeString(dict, "KO\nNA\n")
    Fixture("match_file negative", fmtJson(
      s"""{"name":"id","pos":0,"type":"string","key":true},
          {"name":"val","pos":1,"type":"string"},
          {"name":"testmatch","pos":1,"type":"string",
           "match":{"match_file":"${dict.toString}","logic":"and","negative":true}}"""),
      Seq("1,OK", "2,KO", "3,NA", "4,OK"))
  }

  // ---- fixture 9: ratio incl. float32 artifacts and /logs
  //      (ut-mr-parsing.cc:406-435) ----
  val ratio = Fixture("ratio", fmtJson(
    """{"name":"id","pos":0,"type":"int","key":true},
       {"name":"i1","pos":1,"type":"int","aggregated":true,"aggregation":"sum"},
       {"name":"i2","pos":2,"type":"int","aggregated":true,"aggregation":"sum"},
       {"name":"f1","pos":3,"type":"float","aggregated":true,"aggregation":"sum"},
       {"name":"f2","pos":4,"type":"float","aggregated":true,"aggregation":"sum"},
       {"name":"iratio","numerator":"i1","denominator":"i2","type":"float","aggregated":true,"aggregation":"ratio"},
       {"name":"fratio","numerator":"f1","denominator":"f2","type":"float","aggregated":true,"aggregation":"ratio"},
       {"name":"tratio","numerator":"f1","denominator":"logs","type":"float","aggregated":true,"aggregation":"ratio"}"""),
    Seq("1,3,5,3,5", "1,1,3,1,3", "1,5,7,5,7", "1,3,2,3,2", "1,2,9,2,9", "1,2,2,2,2"))

  // ---- date bucketing: unpadded month/day (SURVEY §7.4 hazard 7) ----
  val dateBucket = Fixture("date bucket", fmtJson(
    """{"name":"d","pos":0,"type":"date","key":true,"processing":"day","date_format":"%Y-%m-%d"},
       {"name":"v","pos":1,"type":"int","aggregated":true,"aggregation":"sum"}"""),
    Seq("2012-03-05,1", "2012-03-05,2", "2012-11-30,5"))

  val minuteBucket = Fixture("minute bucket", fmtJson(
    """{"name":"t","pos":0,"type":"time","key":true,"processing":"minute","processing_offset":10},
       {"name":"v","pos":1,"type":"int","aggregated":true,"aggregation":"sum"}"""),
    Seq("14:39:02,1", "14:33:59,2", "14:41:00,4"))

  // ---- union / union_count ----
  val union = Fixture("union", fmtJson(
    """{"name":"k","pos":0,"type":"string","key":true},
       {"name":"u","pos":1,"type":"string","aggregated":true,"aggregation":"union"},
       {"name":"uc","pos":1,"type":"string","aggregated":true,"aggregation":"union_count"}"""),
    Seq("a,x", "a,y", "a,x", "a,z", "b,q"))

  // ---- url normalization ----
  val url = Fixture("url normalize",
    """{"format_name":"t","delims":",","fields":[
       {"name":"u","pos":0,"type":"url","key":true},
       {"name":"v","pos":1,"type":"int","aggregated":true,"aggregation":"sum"}]}""",
    Seq("http://example.com:8080/a/b?q=1,1", "http://example.com:8080/c,2", "noscheme,7"))

  // ---- std_date_dt synthesis ----
  val stdDateDt = Fixture("std_date_dt", fmtJson(
    """{"name":"d","pos":0,"type":"date","key":true,"processing":"day","date_format":"%Y-%m-%d"},
       {"name":"t","pos":1,"type":"time","key":true,"processing":"hour"},
       {"name":"v","pos":2,"type":"int","aggregated":true,"aggregation":"sum"}"""),
    Seq("2014-01-07,09:15:00,1"))

  // ---- evtx preprocessing through the full engine pipeline ----
  val evtxcsv = Fixture("evtxcsv",
    """{"format_name":"t","delims":";","fields":[
       {"name":"k","pos":0,"type":"string","key":true},
       {"name":"blob","pos":1,"type":"string","preprocessing":"evtxcsv"}]}""",
    Seq("a;x -> k1 = v1 k2 = v2", "a;x -> k1 = v1 k2 = v2"))

  def all: Seq[Fixture] = Seq(sum, variance, varianceMeanSum, filterContain, matchSubstring,
    matchExact, matchExactNegative, matchFileNegative, ratio, dateBucket, minuteBucket, union,
    url, stdDateDt, evtxcsv)
}
